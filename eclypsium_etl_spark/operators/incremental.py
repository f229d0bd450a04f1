"""Incremental ETL patterns (q104–q106).

The reference's idempotency story is "replace the whole table every run"
(mercadolibre_pipeline_dag.py:65, README.md:37) — fine at 50 rows, not at
100 TB. These are the incremental equivalents: key-based merge/upsert
(MERGE INTO without Delta: anti-join + union), partial→final
re-aggregation (mergeable aggregates so you never rescan history), and
change detection between snapshots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..functions import dsum, dsum_sql
from ..io import recreate_table, table, tmp_location
from ..registry import query


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE/upsert emulation on plain Parquet tables: updated keys replace
    base rows (anti-join removes the old versions), new keys append. With
    Delta/Iceberg on the classpath this is MERGE INTO; the plan shape —
    one join on the key — is the same."""
    return updates.unionByName(base.join(updates, key, "left_anti"))


@query(
    "q104_merge_upsert",
    oracle=f"""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 4) AS o_totalprice
    FROM merged
    """,
)
def q104_merge_upsert(spark, sf_dir) -> DataFrame:
    """Upsert a simulated change batch (10% of orders repriced) into the
    snapshot: changed keys take the new row, everything else survives —
    the incremental replacement for full-table overwrite."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    merged = merge_upsert(o, updates, "o_orderkey")
    return merged.withColumn("o_totalprice", F.round("o_totalprice", 4))


@query(
    "q105_snapshot_diff",
    oracle="""
    WITH snap2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS st
        FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS change
    FROM (SELECT o_orderkey, o_orderstatus AS st FROM orders) a
    FULL OUTER JOIN snap2 b ON a.o_orderkey = b.o_orderkey
    WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL OR a.st <> b.st
    """,
)
def q105_snapshot_diff(spark, sf_dir) -> DataFrame:
    """Change-data capture between two snapshots via full outer join:
    classify every key as inserted / deleted / updated (unchanged rows
    drop out). The CDC primitive when the source can't emit a changelog."""
    a = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderstatus").alias("st")
    )
    b = a.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "st", F.when(F.col("o_orderkey") % 7 == 0, "X").otherwise(F.col("st"))
    )
    aj = a.alias("a")
    bj = b.alias("b")
    joined = aj.join(bj, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("b.o_orderkey").isNull(), "deleted")
        .when(F.col("a.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
    )
    return joined.filter(
        F.col("b.o_orderkey").isNull()
        | F.col("a.o_orderkey").isNull()
        | (F.col("a.st") != F.col("b.st"))
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        change.alias("change"),
    )


@query(
    "q106_partial_reagg",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders GROUP BY 1
    """,
)
def q106_partial_reagg(spark, sf_dir) -> DataFrame:
    """Partial→final re-aggregation: daily partials (what an incremental
    job would persist each day) merge into monthly finals by summing sums
    and counts — never rescanning raw history. Works because count/sum
    (and our decimal sums) are MERGEABLE; avg is derived at the end, never
    stored. The checked claim: re-aggregated partials ≡ direct aggregation."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total")
    )
    return (
        daily.groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("total").cast("decimal(28,4)")).cast("double").alias("total"),
        )
    )


@query(
    "q301_partition_reprocess",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 4)
               AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q301_partition_reprocess(spark, sf_dir) -> DataFrame:
    """Late-data PARTITION REPROCESS — the incremental-mart maintenance
    pattern that replaces full rebuilds at scale: yesterday's mart was
    built from the on-time slice (here: all but the last 10% of
    event_ids, a deterministic stand-in for 'rows that had arrived by
    the cutoff'); when the late batch lands, ONLY the days it touches
    are recomputed from the full source and swapped into the mart —
    untouched days are carried over verbatim. The checked output is the
    maintained mart, and the ORACLE IS THE FULL RECOMPUTE — so the
    query proves the central invariant of incremental processing:
    carry-over + affected-day recompute == rebuild-from-scratch,
    bit-for-bit (decimal money discipline). At 100 TB this is a
    partition-overwrite write (dynamic partition overwrite on day) of
    just the affected days; the anti-join here is its plan-level
    dry-run. Late rows landing on NEW days (no prior partition) are the
    classic edge — covered, since affected days come from the late
    batch itself."""
    e = table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")

    def mart(src) -> DataFrame:
        return src.groupBy(day, "event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,4)")).cast("double"), 4
            ).alias("total_value"),
        )

    cutoff = e.agg(
        F.expr("percentile(event_id, 0.9)").alias("c")
    )
    on_time = e.crossJoin(F.broadcast(cutoff)).filter(
        F.col("event_id") <= F.col("c")
    ).drop("c")
    late = e.crossJoin(F.broadcast(cutoff)).filter(
        F.col("event_id") > F.col("c")
    ).drop("c")

    stale_mart = mart(on_time)
    affected_days = late.select(day).distinct()
    carried = stale_mart.join(
        F.broadcast(affected_days), "day", "left_anti"
    )
    affected_rows = e.withColumn("day", day).join(
        F.broadcast(affected_days), "day", "semi"
    ).drop("day")
    return carried.unionByName(mart(affected_rows))


@query(
    "q305_cdc_apply",
    oracle="""
    WITH log AS (
        -- synthesized changelog over customer: op I for all, then U for
        -- custkey%4=0 (balance bump, later seq), then D for custkey%10=0
        -- (later still) — deterministic ops with a total order
        SELECT c_custkey AS k, 1 AS seq, 'I' AS op,
               c_name AS name, c_acctbal AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, 2, 'U', c_name,
               round(c_acctbal + 100.0, 2)
        FROM customer WHERE c_custkey % 4 = 0
        UNION ALL
        SELECT c_custkey, 3, 'D', NULL, NULL
        FROM customer WHERE c_custkey % 10 = 0
    ),
    latest AS (
        SELECT k, op, name, bal,
               row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
    )
    SELECT k AS c_custkey, name, round(bal, 2) AS bal
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q305_cdc_apply(spark, sf_dir) -> DataFrame:
    """CDC CHANGELOG APPLY with tombstones — materializing current
    state from a Debezium-style I/U/D log, the op q104's upsert merge
    doesn't cover (deletes must REMOVE rows, not just lose to newer
    versions): latest op per key wins (seq-ordered window with the
    q85/q134 keep-one discipline), and a winning tombstone drops the
    key entirely. The changelog is synthesized deterministically over
    customer so every path is exercised — plain inserts survive,
    updates supersede (balance bump visible), deletes erase keys that
    were inserted AND updated (custkey % 20 = 0 hits both). One
    key-hash shuffle for the window; at 100 TB this is exactly the
    foreachBatch merge a streaming CDC sink runs per micro-batch
    (q58), partition-pruned to the keys the batch touches (q301's
    affected-partition discipline)."""
    c = table(spark, sf_dir, "customer")
    ins = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    upd = c.filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("bal"),
    )
    dele = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("double").alias("bal"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    from .. import ops

    return ops.cdc_apply(log, ["k"], seq_col="seq", op_col="op").select(
        F.col("k").alias("c_custkey"),
        "name",
        F.round("bal", 2).alias("bal"),
    )


@query(
    "q312_surrogate_keys",
    oracle="""
    WITH existing AS (
        SELECT c_custkey, c_name,
               c_custkey * 10 AS sk   -- the dimension's current keys
        FROM customer WHERE c_custkey % 3 <> 0
    ),
    mx AS (SELECT MAX(sk) AS base FROM existing),
    incoming AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0
    ),
    assigned AS (
        SELECT c_custkey, c_name,
               (SELECT base FROM mx)
               + row_number() OVER (ORDER BY c_custkey) AS sk
        FROM incoming
    )
    SELECT c_custkey, c_name, CAST(sk AS BIGINT) AS sk, FALSE AS is_new
    FROM existing
    UNION ALL
    SELECT c_custkey, c_name, CAST(sk AS BIGINT), TRUE FROM assigned
    """,
)
def q312_surrogate_keys(spark, sf_dir) -> DataFrame:
    """SURROGATE KEY assignment — the dimension-load step every star
    schema performs and Spark famously has no safe builtin for
    (monotonically_increasing_id leaves gaps and renumbers on retry;
    this needs DENSE, DETERMINISTIC, COLLISION-FREE keys continuing
    from the dimension's current maximum): new members get
    max(existing sk) + their rank in a total business-key order. The
    rank comes from ops.global_running_sum over a constant-1 column —
    the two-phase scan/prefix-sum — so no single-partition window
    bottleneck at scale; the max is a 1-row broadcast. Determinism is
    the contract that makes retries idempotent: the same incoming set
    always produces the same keys (the q114/q125 rerun-stability
    discipline applied to key generation)."""
    from .. import ops

    c = table(spark, sf_dir, "customer")
    existing = c.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_custkey") * 10).cast("long").alias("sk"),
        F.lit(False).alias("is_new"),
    )
    base = existing.agg(F.max("sk").alias("base"))
    incoming = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", F.lit(1).cast("long").alias("__one")
    )
    ranked = ops.global_running_sum(
        incoming, ["c_custkey"], "__one", "rank"
    )
    assigned = (
        ranked.crossJoin(F.broadcast(base))
        .select(
            "c_custkey",
            "c_name",
            (F.col("base") + F.col("rank")).cast("long").alias("sk"),
            F.lit(True).alias("is_new"),
        )
    )
    return existing.unionByName(assigned)


_SCD2_INIT_DATE = "2024-01-01"   # initial dimension load
_SCD2_EFF_DATE = "2024-06-01"    # effective date of the change batch


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    key: str,
    attr: str,
    eff_date,
) -> DataFrame:
    """SCD type-2 MERGE: apply a change batch to a slowly-changing
    dimension with (valid_from, valid_to, is_current, version) tracking.

    MERGE INTO semantics expressed as one declarative plan (OSS Spark's
    built-in catalog is v1 parquet, which has no row-level MERGE — with
    Delta/Iceberg on the classpath the SAME classification writes as
    MERGE INTO ... WHEN MATCHED/WHEN NOT MATCHED):
    - WHEN MATCHED AND target.attr IS DISTINCT FROM source.attr
      (null-safe, current row only):
      close the current version (valid_to = eff_date, is_current false)
      AND insert the successor version.
    - WHEN MATCHED AND attr unchanged: no-op — a MERGE must not spawn
      phantom versions for no-op updates.
    - WHEN NOT MATCHED (new business key): insert version 1.
    - Target rows with no source row (including all closed history):
      carried unchanged.

    One key-hash join classifies everything; no window, no shuffle of
    history beyond the join itself. AQE picks broadcast when the change
    batch is small (the production case)."""
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    j = cur.alias("t").join(
        source.alias("s"), F.col("t." + key) == F.col("s." + key), "full_outer"
    )
    # NULL-SAFE change detection: plain `!=` yields NULL (treated as
    # unchanged) on a NULL→value or value→NULL transition, silently
    # suppressing a real change — a first-class MERGE kernel must track
    # nullable dimension attributes. eqNullSafe is Spark's
    # IS NOT DISTINCT FROM (null==null → true, null vs value → false).
    changed = (
        F.col("t." + key).isNotNull()
        & F.col("s." + key).isNotNull()
        & ~F.col("t." + attr).eqNullSafe(F.col("s." + attr))
    )

    def _kept_col(c: str):
        if c == "valid_to":
            # OUT-OF-ORDER GUARD (in-plan, zero extra scans): closing a
            # version with valid_to earlier than its valid_from would
            # corrupt the timeline — a late/backfill wave must go through
            # scd2_merge_retro (q338), never be silently misapplied. The
            # assertion rides the closing expression itself (CASE
            # short-circuits per row, assert_true returns NULL when the
            # order holds, coalesce then yields eff_date), so unchanged
            # rows and in-order waves pay nothing.
            guarded = F.coalesce(
                F.assert_true(
                    eff_date >= F.col("t.valid_from"),
                    F.lit(
                        "scd2 out-of-order wave: eff_date precedes the "
                        "current version's valid_from — apply backfill "
                        "batches through scd2_merge_retro"
                    ),
                ).cast("date"),
                eff_date,
            )
            return F.when(changed, guarded).otherwise(F.col("t." + c)).alias(c)
        if c == "is_current":
            return (
                F.when(changed, F.lit(False)).otherwise(F.col("t." + c)).alias(c)
            )
        return F.col("t." + c).alias(c)

    # current rows: closed when the batch really changes their attr
    kept = j.filter(F.col("t." + key).isNotNull()).select(
        *[_kept_col(c) for c in target.columns]
    )
    # successor versions for real changes
    succ = j.filter(changed).select(
        F.col("t." + key).alias(key),
        F.col("s.name").alias("name"),
        F.col("s." + attr).alias(attr),
        eff_date.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        (F.col("t.version") + 1).alias("version"),
    )
    # brand-new business keys enter at version 1
    new = j.filter(F.col("t." + key).isNull()).select(
        F.col("s." + key).alias(key),
        F.col("s.name").alias("name"),
        F.col("s." + attr).alias(attr),
        eff_date.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
    )
    return hist.unionByName(kept).unionByName(succ).unionByName(new)


@query(
    "q317_scd2_merge_table",
    oracle=f"""
    WITH src AS (
        -- change batch: every 5th customer re-segmented to 'WEB' unless
        -- already in 'BUILDING' (those updates are NO-OPS and must not
        -- spawn versions), plus new business keys for every 50th
        SELECT c_custkey AS k, c_name AS name,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING'
                    ELSE 'WEB' END AS seg
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey + 10000000, c_name || '-new', 'WEB'
        FROM customer WHERE c_custkey % 50 = 0
    ),
    changed AS (
        SELECT s.k FROM src s JOIN customer t ON t.c_custkey = s.k
        WHERE s.seg IS DISTINCT FROM t.c_mktsegment
    )
    SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN c_custkey IN (SELECT k FROM changed)
                THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
           END AS valid_to,
           c_custkey NOT IN (SELECT k FROM changed) AS is_current,
           1 AS version
    FROM customer
    UNION ALL
    SELECT s.k, s.name, s.seg,
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 2
    FROM src s WHERE s.k IN (SELECT k FROM changed)
    UNION ALL
    SELECT s.k, s.name, s.seg,
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 1
    FROM src s WHERE s.k >= 10000000
    """,
)
def q317_scd2_merge_table(spark, sf_dir) -> DataFrame:
    """MERGE-style SCD2 upsert against a MANAGED WAREHOUSE TABLE — the
    §2.14 growth item (VERDICT r7 #1): q104 merges path-based parquet,
    q139 derives SCD2 intervals from an event log, q305 applies a CDC
    changelog, but none of them targets a CATALOG table with DML
    semantics. This one does, end to end: CREATE TABLE (q244's explicit
    tmp LOCATION + pre-clear discipline, so reruns are deterministic in
    any driver session), INSERT the initial dimension load, then apply a
    deterministic change batch through scd2_merge and publish with
    INSERT OVERWRITE — the write-audit-publish shape (stage the merge
    result, then swap), which is also what OSS Spark requires: a direct
    self-referencing overwrite of a v1 parquet table throws
    'Cannot overwrite a path that is also being read from'.

    Exercised MERGE semantics, all oracle-checked: real attribute change
    → close current version + insert successor (version 2); NO-OP update
    (source value equals target — the 'BUILDING' customers in the batch)
    → must NOT spawn a version; new business key → insert at version 1;
    untouched keys and closed history → carried verbatim. Rerun
    idempotence is pin-tested (tests/test_pipeline.py): building the
    table twice yields identical state — the q244 pre-clear plus a
    deterministic merge make retries safe, the property MERGE INTO gives
    transactionally and this emulation must give by construction.

    At 100 TB: the initial load is a one-time partitioned write; each
    merge touches one key-hash join of (current slice × change batch) —
    the change batch broadcasts (AQE), closed history never rejoins, and
    with a table format that supports row-level ops the same classified
    output becomes MERGE's matched/not-matched actions with no plan
    change above the sink."""
    return _scd2_final_view(spark, _scd2_build_wave1(spark, sf_dir, "t_q317"))


def _scd2_publish(spark, tname: str, stage: str, merged: DataFrame) -> None:
    """Write-audit-publish: stage the merge result, then swap it into the
    catalog table with INSERT OVERWRITE — OSS Spark's v1 parquet tables
    reject a self-referencing overwrite ('Cannot overwrite a path that is
    also being read from'), and staging is the production shape anyway."""
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    merged.write.parquet(stage)
    spark.read.parquet(stage).write.insertInto(tname, overwrite=True)


def _scd2_create_init(spark, sf_dir, tname: str) -> None:
    """CREATE the SCD2 customer dimension catalog table ``tname`` and
    INSERT the initial load (every customer at version 1, valid from
    _SCD2_INIT_DATE). Pre-clears location + table (q244 discipline) so
    every call rebuilds deterministically."""
    loc = tmp_location(f"{tname}_tbl_{os.path.basename(sf_dir)}")
    recreate_table(
        spark,
        tname,
        loc,
        f"""
        CREATE TABLE {tname} (
            k BIGINT, name STRING, seg STRING,
            valid_from DATE, valid_to DATE,
            is_current BOOLEAN, version INT
        ) USING parquet LOCATION '{loc}'
        """,
    )
    c = table(spark, sf_dir, "customer")
    init = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.to_date(F.lit(_SCD2_INIT_DATE)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
    )
    init.write.insertInto(tname)


def _scd2_wave1_batch(c: DataFrame) -> DataFrame:
    """q317's wave-1 change batch: every 5th customer re-segmented to
    'WEB' (BUILDING rows are deliberate no-ops), new business keys for
    every 50th."""
    updates = c.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_mktsegment") == "BUILDING", "BUILDING")
        .otherwise("WEB")
        .alias("seg"),
    )
    inserts = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("k"),
        F.concat(F.col("c_name"), F.lit("-new")).alias("name"),
        F.lit("WEB").alias("seg"),
    )
    return updates.unionByName(inserts)


def _scd2_wave2_batch(c: DataFrame) -> DataFrame:
    """q324's wave-2 change batch: every 3rd customer to 'RETAIL'."""
    return c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.lit("RETAIL").alias("seg"),
    )


def _scd2_build_wave1(spark, sf_dir, tname: str) -> str:
    """Build the SCD2 customer dimension in catalog table ``tname`` and
    apply the wave-1 change batch through scd2_merge."""
    _scd2_create_init(spark, sf_dir, tname)
    merged = scd2_merge(
        spark.table(tname),
        _scd2_wave1_batch(table(spark, sf_dir, "customer")),
        key="k",
        attr="seg",
        eff_date=F.to_date(F.lit(_SCD2_EFF_DATE)),
    )
    stage = tmp_location(f"{tname}_stage_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, merged)
    return tname


def _scd2_final_view(spark, tname: str) -> DataFrame:
    """The checked projection: validity dates surface as timestamps
    (q199's cross-engine date idiom — Spark DATE and DuckDB DATE
    canonicalize differently through pandas; TIMESTAMP canonicalizes
    identically)."""
    return spark.table(tname).select(
        "k",
        "name",
        "seg",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
        "version",
    )


_SCD2_W2_DATE = "2024-09-01"  # q324: effective date of the second wave

# Closed form of the full two-wave history (wave 1 = q317's batch at
# _SCD2_EFF_DATE, wave 2 = every-3rd-to-RETAIL at _SCD2_W2_DATE) —
# shared by q324 (batch chaining) and q329 (the same waves delivered
# through the streaming runtime, one merge per micro-batch).
_SCD2_TWO_WAVE_ORACLE = f"""
    WITH changed1 AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_custkey % 5 = 0
          AND c_mktsegment IS DISTINCT FROM 'BUILDING'
    ),
    w2 AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0)
    -- version 1: every original member; closed by whichever wave first
    -- changed it (wave 1 wins when both apply)
    SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN c_custkey IN (SELECT k FROM changed1)
                    THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
                WHEN c_custkey IN (SELECT k FROM w2)
                    THEN CAST(DATE '{_SCD2_W2_DATE}' AS TIMESTAMP)
           END AS valid_to,
           c_custkey NOT IN (SELECT k FROM changed1)
               AND c_custkey NOT IN (SELECT k FROM w2) AS is_current,
           1 AS version
    FROM customer
    UNION ALL
    -- version 2 = wave-1 'WEB'; closed again where wave 2 also hits
    SELECT c_custkey, c_name, 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP),
           CASE WHEN c_custkey IN (SELECT k FROM w2)
                    THEN CAST(DATE '{_SCD2_W2_DATE}' AS TIMESTAMP) END,
           c_custkey NOT IN (SELECT k FROM w2), 2
    FROM customer WHERE c_custkey IN (SELECT k FROM changed1)
    UNION ALL
    -- wave-2 'RETAIL' versions: version counts from the CURRENT chain
    SELECT c_custkey, c_name, 'RETAIL',
           CAST(DATE '{_SCD2_W2_DATE}' AS TIMESTAMP), NULL, TRUE,
           CASE WHEN c_custkey IN (SELECT k FROM changed1)
                THEN 3 ELSE 2 END
    FROM customer WHERE c_custkey IN (SELECT k FROM w2)
    UNION ALL
    -- wave-1 inserts: outside wave 2's key space, still current v1
    SELECT c_custkey + 10000000, c_name || '-new', 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 1
    FROM customer WHERE c_custkey % 50 = 0
    """


@query("q324_scd2_multiwave", oracle=_SCD2_TWO_WAVE_ORACLE)
def q324_scd2_multiwave(spark, sf_dir) -> DataFrame:
    """CHAINED SCD2 merges — the second change wave applied to q317's
    already-merged state (SURVEY round-9 forward-plan item 1, built
    early): wave 2 (effective 2024-09-01) re-segments every 3rd
    customer to 'RETAIL', which exercises the paths a single merge
    can't: RE-CLOSING an already-superseded chain (a key hit by both
    waves closes v1 at wave 1 AND v2 at wave 2 — version arithmetic
    must continue from the CURRENT version, not restart), closing a v1
    that survived wave 1 untouched (k%3==0, k%5!=0 → v1 closes at the
    WAVE-2 date), and leaving wave-1 INSERTS alone (their keys sit
    outside wave 2's key space — an unmatched target chain carries
    verbatim through a second merge). Each wave is one scd2_merge
    key-hash join + staged publish; N waves = N incremental merges, and
    the oracle states the closed form of the whole two-wave history —
    so a wrong re-close date, a version restart, or a phantom no-op
    version all hash-fail. The multi-wave shape is what a nightly
    dimension load actually runs (q305's CDC waves, but with full SCD2
    history instead of current-state-only)."""
    tname = _scd2_build_wave1(spark, sf_dir, "t_q324")
    merged2 = scd2_merge(
        spark.table(tname),
        _scd2_wave2_batch(table(spark, sf_dir, "customer")),
        key="k",
        attr="seg",
        eff_date=F.to_date(F.lit(_SCD2_W2_DATE)),
    )
    stage = tmp_location(f"{tname}_stage2_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, merged2)
    return _scd2_final_view(spark, tname)


def scd2_tombstone(
    target: DataFrame, keys: DataFrame, key: str, eff_date
) -> DataFrame:
    """SCD2 SOFT DELETE: close the current version of every listed key
    (valid_to = eff_date, is_current false) and insert NOTHING — the
    member leaves the dimension but its history survives, which is what
    distinguishes a dimension tombstone from q305's current-state CDC
    delete (there the key vanishes entirely). One semi/anti join pair on
    the key — the same single-shuffle family as scd2_merge; keys absent
    from the target are a no-op (idempotent re-delivery of a tombstone
    batch is safe)."""
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    def _closed_col(c: str):
        if c == "valid_to":
            return eff_date.alias(c)
        if c == "is_current":
            return F.lit(False).alias(c)
        return F.col(c)

    hit = cur.join(keys.select(key), key, "semi").select(
        *[_closed_col(c) for c in target.columns]
    )
    miss = cur.join(keys.select(key), key, "left_anti")
    return hist.unionByName(hit).unionByName(miss)


@query(
    "q326_scd2_tombstone",
    oracle=f"""
    WITH changed1 AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_custkey % 5 = 0
          AND c_mktsegment IS DISTINCT FROM 'BUILDING'
    ),
    del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 7 = 0)
    SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN c_custkey IN (SELECT k FROM changed1)
                    THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
                WHEN c_custkey IN (SELECT k FROM del)
                    THEN CAST(DATE '{_SCD2_W2_DATE}' AS TIMESTAMP)
           END AS valid_to,
           c_custkey NOT IN (SELECT k FROM changed1)
               AND c_custkey NOT IN (SELECT k FROM del) AS is_current,
           1 AS version
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP),
           CASE WHEN c_custkey IN (SELECT k FROM del)
                    THEN CAST(DATE '{_SCD2_W2_DATE}' AS TIMESTAMP) END,
           c_custkey NOT IN (SELECT k FROM del), 2
    FROM customer WHERE c_custkey IN (SELECT k FROM changed1)
    UNION ALL
    SELECT c_custkey + 10000000, c_name || '-new', 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 1
    FROM customer WHERE c_custkey % 50 = 0
    """,
)
def q326_scd2_tombstone(spark, sf_dir) -> DataFrame:
    """SCD2 SOFT-DELETE wave (SURVEY round-9 forward-plan item 2, built
    early): after q317's wave-1 merge, a tombstone batch (every 7th
    customer, effective 2024-09-01) closes each listed key's
    CURRENT version — whichever version that is (v1 for untouched keys,
    v2 for wave-1-changed ones; getting that right is the point: a
    delete must chase the chain head, not the original row) — and
    inserts no successor, so the key has no current row but its FULL
    history survives. Contrast q305, where a CDC delete erases the key
    from current state entirely; a dimension must keep the history or
    every old fact loses its join target. Wave-1 inserts (10M+ keys)
    sit outside the tombstone key space and carry through current.
    Tombstoning keys absent from the dimension is a no-op, so
    re-delivered delete batches are idempotent. Plan: one semi + one
    anti join on the key against the current slice, history untouched —
    the same single-shuffle family as the merge itself."""
    tname = _scd2_build_wave1(spark, sf_dir, "t_q326")
    c = table(spark, sf_dir, "customer")
    del_keys = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k")
    )
    tombstoned = scd2_tombstone(
        spark.table(tname),
        del_keys,
        key="k",
        eff_date=F.to_date(F.lit(_SCD2_W2_DATE)),
    )
    stage = tmp_location(f"{tname}_stage2_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, tombstoned)
    return _scd2_final_view(spark, tname)


@query("q329_stream_scd2", oracle=_SCD2_TWO_WAVE_ORACLE)
def q329_stream_scd2(spark, sf_dir) -> DataFrame:
    """STREAMING SCD2 — q324's two change waves delivered through the
    Structured Streaming runtime instead of batch calls (SURVEY round-9
    forward-plan item 3): a file-replay change feed (one parquet file
    per wave, maxFilesPerTrigger=1, explicit mtimes so the file source's
    oldest-first ordering is deterministic) drives q58's foreachBatch
    sink, and EACH MICRO-BATCH IS ONE MERGE WAVE — scd2_merge against
    the catalog table's current state, then the staged write-audit-
    publish swap. The handler groups the batch by its effective date
    and applies merges in date order, so the semantics survive Spark
    coalescing several source files into one batch (wave chunks of the
    SAME date commute — the merge is per-key — and distinct dates apply
    oldest-first; only cross-batch date inversion would break, which
    the mtime ordering pins away).

    The final table state must equal the closed form of the whole
    two-wave history — the SAME oracle as q324, so the streaming
    runtime (checkpointed micro-batch scheduling, replay, foreachBatch
    exactly-once-per-batch-id) is differentially tested against the
    batch chaining it must reproduce. This is the nightly-dimension-
    load-as-a-stream shape: CDC feed in, SCD2 history out, one merge
    per trigger.

    At 100 TB: each micro-batch joins (current slice × change batch)
    with the batch broadcast (AQE) — identical plan to q324 per wave;
    the stream adds checkpointed offsets so a crashed load resumes at
    the failed wave instead of replaying history (the publish is
    idempotent per batch_id: a retried batch re-runs the same merge on
    the same pre-merge state because the swap is the last step)."""
    from ..streaming.queries import run_available_now, staged_feed

    tname = "t_q329"
    _scd2_create_init(spark, sf_dir, tname)
    c = table(spark, sf_dir, "customer")
    waves = [
        _scd2_wave1_batch(c).withColumn("eff", F.lit(_SCD2_EFF_DATE)),
        _scd2_wave2_batch(c).withColumn("eff", F.lit(_SCD2_W2_DATE)),
    ]
    with staged_feed(waves, "eclypsium_scd2_feed_") as src:
        feed = (
            spark.readStream.schema("k bigint, name string, seg string, eff string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_available_now(
            feed.writeStream.foreachBatch(
                scd2_wave_handler(spark, tname, os.path.basename(sf_dir))
            )
        )
    return _scd2_final_view(spark, tname)


def scd2_wave_handler(spark, tname: str, tag: str):
    """q329's foreachBatch handler as a reusable factory.

    RESTART-IDEMPOTENT BY DATA: a batch replayed after a driver restart
    re-runs scd2_merge against the already-merged table — every attr
    compares eqNullSafe-equal, the merge classifies every row no-op, and
    the publish swaps in an identical state (the forward out-of-order
    guard never fires because it only evaluates on CHANGED rows).
    Pin-tested in tests/test_streaming.py (commit-log deletion replay)."""

    def apply_wave(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        effs = sorted(r[0] for r in batch_df.select("eff").distinct().collect())
        for eff in effs:  # ISO date strings sort chronologically
            merged = scd2_merge(
                spark.table(tname),
                batch_df.filter(F.col("eff") == eff).select("k", "name", "seg"),
                key="k",
                attr="seg",
                eff_date=F.to_date(F.lit(eff)),
            )
            stage = tmp_location(f"{tname}_stage_b{batch_id}_{eff}_{tag}")
            _scd2_publish(spark, tname, stage, merged)

    return apply_wave


def scd2_merge_multi(
    target: DataFrame,
    source: DataFrame,
    key: str,
    attrs: list[str],
    eff_date,
    payload: list[str] | None = None,
) -> DataFrame:
    """scd2_merge generalized to MULTIPLE tracked attributes: the close/
    insert trigger is a change in ANY tracked column (OR over per-column
    inequality — the expanded form of comparing a tracked-column hash),
    and the successor version carries ALL tracked columns from the
    source, changed or not. Same single key-hash join plan as
    scd2_merge; no-op suppression now means no-op across the WHOLE
    tracked set.

    ``payload`` (q336): extra source columns the successor/insert rows
    carry WITHOUT participating in change detection — the hash-diff
    layout compares one digest column (attrs=[hashdiff]) while the
    actual attribute values ride as payload."""
    from functools import reduce

    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    j = cur.alias("t").join(
        source.alias("s"), F.col("t." + key) == F.col("s." + key), "full_outer"
    )
    # OR-fold of NULL-SAFE per-column inequality (IS DISTINCT FROM): a
    # plain `!=` goes NULL on null transitions and the OR-fold then
    # treats a genuinely changed row as a no-op (see scd2_merge).
    changed = (
        F.col("t." + key).isNotNull()
        & F.col("s." + key).isNotNull()
        & reduce(
            lambda a, b: a | b,
            [~F.col("t." + a).eqNullSafe(F.col("s." + a)) for a in attrs],
        )
    )

    def _kept_col(c: str):
        if c == "valid_to":
            # OUT-OF-ORDER GUARD (in-plan, zero extra scans): closing a
            # version with valid_to earlier than its valid_from would
            # corrupt the timeline — a late/backfill wave must go through
            # scd2_merge_retro (q338), never be silently misapplied. The
            # assertion rides the closing expression itself (CASE
            # short-circuits per row, assert_true returns NULL when the
            # order holds, coalesce then yields eff_date), so unchanged
            # rows and in-order waves pay nothing.
            guarded = F.coalesce(
                F.assert_true(
                    eff_date >= F.col("t.valid_from"),
                    F.lit(
                        "scd2 out-of-order wave: eff_date precedes the "
                        "current version's valid_from — apply backfill "
                        "batches through scd2_merge_retro"
                    ),
                ).cast("date"),
                eff_date,
            )
            return F.when(changed, guarded).otherwise(F.col("t." + c)).alias(c)
        if c == "is_current":
            return (
                F.when(changed, F.lit(False)).otherwise(F.col("t." + c)).alias(c)
            )
        return F.col("t." + c).alias(c)

    carried = list(attrs) + list(payload or [])
    kept = j.filter(F.col("t." + key).isNotNull()).select(
        *[_kept_col(c) for c in target.columns]
    )
    succ = j.filter(changed).select(
        F.col("t." + key).alias(key),
        F.col("s.name").alias("name"),
        *[F.col("s." + a).alias(a) for a in carried],
        eff_date.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        (F.col("t.version") + 1).alias("version"),
    )
    new = j.filter(F.col("t." + key).isNull()).select(
        F.col("s." + key).alias(key),
        F.col("s.name").alias("name"),
        *[F.col("s." + a).alias(a) for a in carried],
        eff_date.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
    )
    return hist.unionByName(kept).unionByName(succ).unionByName(new)


@query(
    "q333_scd2_multiattr",
    oracle=f"""
    WITH init AS (
        -- NULLABLE tracked attribute: every k%10=7 key starts with
        -- UNKNOWN nationality (the real-dimension shape plain != can't
        -- track). k%10 IN (3,7) keys are odd, so disjoint from the
        -- k%4/k%6 change arms.
        SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
               CASE WHEN c_custkey % 10 = 7 THEN NULL
                    ELSE CAST(c_nationkey AS BIGINT) END AS nat
        FROM customer
    ),
    src AS (
        SELECT c_custkey AS k, c_name AS name,
               CASE WHEN c_custkey % 4 = 0 THEN
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING'
                        ELSE 'WEB' END
               ELSE c_mktsegment END AS seg,
               CASE WHEN c_custkey % 6 = 0
                        THEN CAST((c_nationkey + 1) % 25 AS BIGINT)
                    WHEN c_custkey % 10 = 3 THEN NULL       -- value→NULL
                    WHEN c_custkey % 10 = 7 AND c_custkey % 3 = 0
                        THEN NULL                            -- NULL→NULL no-op
                    ELSE CAST(c_nationkey AS BIGINT)         -- k%10=7: NULL→value
               END AS nat
        FROM customer
        WHERE c_custkey % 4 = 0 OR c_custkey % 6 = 0
           OR c_custkey % 10 IN (3, 7)
    ),
    changed AS (
        SELECT s.k FROM src s JOIN init t ON t.k = s.k
        WHERE s.seg IS DISTINCT FROM t.seg
           OR s.nat IS DISTINCT FROM t.nat
    )
    SELECT t.k, t.name, t.seg, t.nat,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN t.k IN (SELECT k FROM changed)
                THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
           END AS valid_to,
           t.k NOT IN (SELECT k FROM changed) AS is_current,
           1 AS version
    FROM init t
    UNION ALL
    SELECT s.k, s.name, s.seg, s.nat,
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 2
    FROM src s WHERE s.k IN (SELECT k FROM changed)
    """,
)
def q333_scd2_multiattr(spark, sf_dir) -> DataFrame:
    """SCD2 with a MULTI-ATTRIBUTE tracked set (SURVEY round-9 item 3):
    the dimension tracks (seg, nat) together — a change in EITHER column
    closes the current version and the successor carries BOTH current
    values, which is what real dimensions do (a hash over the tracked
    set in production; the expanded OR here so the oracle states it
    exactly). The change batch is built to hit every path: seg-only
    changes (k%4, not BUILDING, k%6≠0), nat-only changes (k%6, k%4≠0 —
    (n+1)%25 never equals n, so these always change), both-change rows
    (k%12), and FULL no-ops (k%12=0 BUILDING rows change nat only;
    k%4=0 BUILDING rows with k%6≠0 change NOTHING and must spawn no
    version — partial no-op on one column of a changed row is NOT a
    no-op, which is the bug class single-attribute merges can't see).

    NULL-TRANSITION coverage (round-9 hardening): nat is NULLABLE —
    every k%10=7 key starts with nat NULL, and the batch delivers all
    three null shapes on a tracked attribute: NULL→value (k%10=7,
    k%3≠0: must CLOSE + version), value→NULL (k%10=3: must CLOSE +
    version), and NULL→NULL (k%10=7, k%3=0: must be a NO-OP). Plain
    `!=` change detection renders all three as "unchanged" (NULL
    predicate) and silently suppresses the first two — the kernel uses
    eqNullSafe / IS DISTINCT FROM precisely for this, and this oracle
    is the family's differential pin for it. Same managed-table build
    as q317 (CREATE + INSERT init + merge + staged INSERT OVERWRITE
    publish); one key-hash join, change batch broadcasts under AQE."""
    tname = "t_q333"
    loc = tmp_location(f"{tname}_tbl_{os.path.basename(sf_dir)}")
    recreate_table(
        spark,
        tname,
        loc,
        f"""
        CREATE TABLE {tname} (
            k BIGINT, name STRING, seg STRING, nat BIGINT,
            valid_from DATE, valid_to DATE,
            is_current BOOLEAN, version INT
        ) USING parquet LOCATION '{loc}'
        """,
    )
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    init = c.select(
        k.alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        # nullable tracked attribute: k%10=7 keys start UNKNOWN
        F.when(k % 10 == 7, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .cast("bigint")
        .alias("nat"),
        F.to_date(F.lit(_SCD2_INIT_DATE)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
    )
    init.write.insertInto(tname)

    src = c.filter(
        (k % 4 == 0) | (k % 6 == 0) | (k % 10).isin(3, 7)
    ).select(
        k.alias("k"),
        F.col("c_name").alias("name"),
        F.when(
            k % 4 == 0,
            F.when(F.col("c_mktsegment") == "BUILDING", "BUILDING").otherwise(
                "WEB"
            ),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.when(k % 6 == 0, (F.col("c_nationkey") + 1) % 25)
        .when(k % 10 == 3, F.lit(None))                      # value→NULL
        .when((k % 10 == 7) & (k % 3 == 0), F.lit(None))     # NULL→NULL no-op
        .otherwise(F.col("c_nationkey"))                     # k%10=7: NULL→value
        .cast("bigint")
        .alias("nat"),
    )
    merged = scd2_merge_multi(
        spark.table(tname),
        src,
        key="k",
        attrs=["seg", "nat"],
        eff_date=F.to_date(F.lit(_SCD2_EFF_DATE)),
    )
    stage = tmp_location(f"{tname}_stage_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, merged)
    return spark.table(tname).select(
        "k",
        "name",
        "seg",
        "nat",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
        "version",
    )


# q336: the production hash-diff spelling of multi-attribute tracking.
# Separator-joined string then md5 — engine-portable (BIGINT→string
# renders identically). NULLS ARE ENCODED EXPLICITLY: concat_ws SKIPS
# null fields, so without explicit encoding (NULL,'7') and ('7',NULL)
# — or NULL vs non-NULL against a DuckDB || that NULL-poisons the whole
# digest — collide or diverge. The registry-wide null-injection walk
# caught exactly that. Encoding is COLLISION-FREE BY CONSTRUCTION
# (r9 advice: a bare '<NULL>' sentinel collides with the literal string
# '<NULL>', and an unescaped '|' separator lets ('a|b','c') collide
# with ('a','b|c')): each column is length-prefixed —
# NULL → 'N'; value v → 'V' || length(v) || ':' || v — so the decoder
# consumes exactly length(v) chars and no value, including ones
# containing 'N', '|', ':' or digits, can straddle a column boundary.
# length() counts CHARS on both engines (Spark length / DuckDB length).
def _hd_enc_spark(c):
    return F.when(c.isNull(), F.lit("N")).otherwise(
        F.concat(F.lit("V"), F.length(c).cast("string"), F.lit(":"), c)
    )


_HASHDIFF_SPARK = lambda seg, nat: F.md5(  # noqa: E731
    F.concat(
        _hd_enc_spark(seg), F.lit("|"), _hd_enc_spark(nat.cast("string"))
    )
)
_HD_ENC_SQL = lambda c: (  # noqa: E731
    f"CASE WHEN {c} IS NULL THEN 'N' "
    f"ELSE 'V' || CAST(length({c}) AS VARCHAR) || ':' || {c} END"
)
_HD_SQL = lambda seg, nat: (  # noqa: E731
    f"md5({_HD_ENC_SQL(seg)} || '|' || {_HD_ENC_SQL(nat)})"
)


@query(
    "q336_scd2_hashdiff",
    oracle=f"""
    WITH src AS (
        SELECT c_custkey AS k, c_name AS name,
               CASE WHEN c_custkey % 4 = 0 THEN
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING'
                        ELSE 'WEB' END
               ELSE c_mktsegment END AS seg,
               CAST(CASE WHEN c_custkey % 6 = 0 THEN (c_nationkey + 1) % 25
                    ELSE c_nationkey END AS BIGINT) AS nat
        FROM customer WHERE c_custkey % 4 = 0 OR c_custkey % 6 = 0
    ),
    src_h AS (
        SELECT k, name, seg, nat,
               {_HD_SQL('seg', 'CAST(nat AS VARCHAR)')} AS hashdiff
        FROM src
    ),
    tgt_h AS (
        SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
               CAST(c_nationkey AS BIGINT) AS nat,
               {_HD_SQL('c_mktsegment',
                        'CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR)')}
                   AS hashdiff
        FROM customer
    ),
    changed AS (
        SELECT s.k FROM src_h s JOIN tgt_h t ON t.k = s.k
        WHERE s.hashdiff IS DISTINCT FROM t.hashdiff
    )
    SELECT t.k, t.name, t.seg, t.nat, t.hashdiff,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN t.k IN (SELECT k FROM changed)
                THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
           END AS valid_to,
           t.k NOT IN (SELECT k FROM changed) AS is_current,
           1 AS version
    FROM tgt_h t
    UNION ALL
    SELECT s.k, s.name, s.seg, s.nat, s.hashdiff,
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 2
    FROM src_h s WHERE s.k IN (SELECT k FROM changed)
    """,
)
def q336_scd2_hashdiff(spark, sf_dir) -> DataFrame:
    """SCD2 HASH-DIFF change detection (SURVEY round-9 item 3) — q333's
    expanded OR restated as the production spelling: the dimension
    stores ONE digest column over the tracked set
    (md5('seg|nat'), the data-vault hashdiff) and the merge compares
    ONLY digests — one comparison regardless of tracked width, which is
    why wide dimensions standardize on it. The actual attribute values
    ride as PAYLOAD (scd2_merge_multi's new payload param): carried by
    successors, never compared. Semantics are q333's exactly (same
    change batch, same no-op/partial/both paths) PLUS the hashdiff
    column itself is hashed data — a separator bug, a null-skip, or a
    cast-format divergence between engines shows up as a value
    mismatch, making the digest computation differentially tested, not
    just trusted. md5 is engine-portable; each column is length-prefix
    encoded (NULL → 'N', v → 'V'||length(v)||':'||v) so the digest is
    total over nulls AND collision-free — no sentinel string or
    separator char a value could forge (see _hd_enc_spark). Same
    managed-table build + staged publish as q317/q333."""
    tname = "t_q336"
    loc = tmp_location(f"{tname}_tbl_{os.path.basename(sf_dir)}")
    recreate_table(
        spark,
        tname,
        loc,
        f"""
        CREATE TABLE {tname} (
            k BIGINT, name STRING, seg STRING, nat BIGINT, hashdiff STRING,
            valid_from DATE, valid_to DATE,
            is_current BOOLEAN, version INT
        ) USING parquet LOCATION '{loc}'
        """,
    )
    c = table(spark, sf_dir, "customer")
    nat0 = F.col("c_nationkey").cast("bigint")
    init = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        nat0.alias("nat"),
        _HASHDIFF_SPARK(F.col("c_mktsegment"), nat0).alias("hashdiff"),
        F.to_date(F.lit(_SCD2_INIT_DATE)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
    )
    init.write.insertInto(tname)

    k = F.col("c_custkey")
    seg_new = (
        F.when(
            k % 4 == 0,
            F.when(F.col("c_mktsegment") == "BUILDING", "BUILDING").otherwise(
                "WEB"
            ),
        )
        .otherwise(F.col("c_mktsegment"))
    )
    nat_new = (
        F.when(k % 6 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .cast("bigint")
    )
    src = c.filter((k % 4 == 0) | (k % 6 == 0)).select(
        k.alias("k"),
        F.col("c_name").alias("name"),
        seg_new.alias("seg"),
        nat_new.alias("nat"),
        _HASHDIFF_SPARK(seg_new, nat_new).alias("hashdiff"),
    )
    merged = scd2_merge_multi(
        spark.table(tname),
        src,
        key="k",
        attrs=["hashdiff"],
        eff_date=F.to_date(F.lit(_SCD2_EFF_DATE)),
        payload=["seg", "nat"],
    )
    stage = tmp_location(f"{tname}_stage_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, merged)
    return spark.table(tname).select(
        "k",
        "name",
        "seg",
        "nat",
        "hashdiff",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
        "version",
    )


_SCD2_RETRO_DATE = "2024-03-01"  # q338: late wave effective BETWEEN
                                 # the init load and wave 1 — the
                                 # backfill case every warehouse hits


def scd2_merge_retro(
    target: DataFrame,
    source: DataFrame,
    key: str,
    attr: str,
    eff_date,
) -> DataFrame:
    """RETROACTIVE SCD2 merge — apply a change batch whose effective date
    may precede existing versions (the late-arriving/backfill wave
    scd2_merge's out-of-order guard rejects).

    Timeline-insertion semantics: the batch states the attribute's value
    AS OF eff_date, so the version COVERING eff_date
    (valid_from <= e < coalesce(valid_to, +inf)) splits in two —
    [valid_from, e) keeps the old value, [e, old valid_to) takes the new
    one and inherits the covering version's open/closed state — and every
    later version is untouched (later waves are later information). A
    covering version already holding the batch value is a NO-OP (no
    phantom splits); keys absent from the target insert at [e, NULL);
    version numbers are recomputed per key by valid_from order and
    is_current is recomputed as valid_to IS NULL, so the invariant
    (exactly one open version per key, versions dense in timeline order)
    holds by construction. A batch dated before a key's ENTIRE history
    has no covering version — asserted in-plan (raise, never silently
    drop), mirroring scd2_merge's forward guard.

    Plan: one key-hash join (change batch broadcasts under AQE) + a
    per-key window for renumbering — window partitions are business keys
    (bounded version counts), so there is no unsplittable hot partition
    at 100 TB.

    Schema contract: ``target`` must carry the SCD2 bookkeeping set
    (valid_from, valid_to, is_current, version); every other target
    column besides ``key``/``attr`` is PAYLOAD, derived from
    target.columns (r9 advice — previously hardcoded to 'name'), and
    ``source`` must carry the same payload columns so inserted slices
    can populate them."""
    from pyspark.sql import Window

    _scd2_cols = ("valid_from", "valid_to", "is_current", "version")
    missing = [c for c in _scd2_cols if c not in target.columns]
    if missing:
        raise ValueError(
            f"scd2_merge_retro: target lacks SCD2 columns {missing}"
        )
    payload = [
        c
        for c in target.columns
        if c not in (key, attr) and c not in _scd2_cols
    ]
    lacking = [c for c in payload if c not in source.columns]
    if lacking:
        raise ValueError(
            f"scd2_merge_retro: source lacks payload columns {lacking}"
        )

    j = target.alias("t").join(
        source.alias("s"), F.col("t." + key) == F.col("s." + key), "full_outer"
    )
    covering = (
        (F.col("t.valid_from") <= eff_date)
        & (F.col("t.valid_to").isNull() | (eff_date < F.col("t.valid_to")))
    )
    changed = (
        F.col("t." + key).isNotNull()
        & F.col("s." + key).isNotNull()
        & covering
        & ~F.col("t." + attr).eqNullSafe(F.col("s." + attr))
    )
    # a matched key whose EARLIEST version starts after eff_date has no
    # covering version: the batch predates all history — reject in-plan.
    # The assertion lives in a FILTER (a projection-only guard gets
    # pruned with its column): assert_true yields NULL when the order
    # holds, coalesce(TRUE) keeps every row, a violation raises.
    j = j.filter(
        F.coalesce(
            F.when(
                F.col("s." + key).isNotNull() & (F.col("t.version") == 1),
                F.assert_true(
                    F.col("t.valid_from") <= eff_date,
                    F.lit(
                        "scd2_merge_retro: wave predates the key's "
                        "entire history — no version covers eff_date"
                    ),
                ).cast("boolean"),
            ),
            F.lit(True),
        )
    )

    def _kept_col(c: str):
        if c == "valid_to":
            return (
                F.when(changed, eff_date)
                .otherwise(F.col("t." + c))
                .alias(c)
            )
        return F.col("t." + c).alias(c)

    kept = j.filter(F.col("t." + key).isNotNull()).select(
        *[_kept_col(c) for c in target.columns]
    )
    # the inserted slice [e, old valid_to) inherits the covering row's
    # open/closed state — it IS the current version iff it split the
    # open one
    ins = j.filter(changed).select(
        F.col("t." + key).alias(key),
        *[F.col("s." + p).alias(p) for p in payload],
        F.col("s." + attr).alias(attr),
        eff_date.alias("valid_from"),
        F.col("t.valid_to").alias("valid_to"),
        F.col("t.is_current").alias("is_current"),
        F.lit(0).alias("version"),
    )
    new = j.filter(F.col("t." + key).isNull()).select(
        F.col("s." + key).alias(key),
        *[F.col("s." + p).alias(p) for p in payload],
        F.col("s." + attr).alias(attr),
        eff_date.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(0).alias("version"),
    )
    merged = kept.unionByName(ins).unionByName(new)
    # drop zero-length versions (eff_date == covering valid_from means the
    # retro value REPLACES that slice), then rebuild version numbers and
    # is_current from the timeline itself
    merged = merged.filter(
        F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to"))
    )
    w = Window.partitionBy(key).orderBy("valid_from")
    return merged.select(
        key,
        *payload,
        attr,
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        F.row_number().over(w).alias("version"),
    )


@query(
    "q338_scd2_retro",
    oracle=f"""
    WITH changed1 AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_custkey % 5 = 0
          AND c_mktsegment IS DISTINCT FROM 'BUILDING'
    ),
    retro_k AS (
        -- retro wave: every 9th customer to 'MAIL'; AUTOMOBILE rows are
        -- deliberate no-ops (the covering version already holds the value)
        SELECT c_custkey AS k FROM customer
        WHERE c_custkey % 9 = 0 AND c_mktsegment <> 'AUTOMOBILE'
    )
    -- version 1: truncated at the retro date where the late wave hits,
    -- else closed by wave 1, else still current
    SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
           CAST(DATE '{_SCD2_INIT_DATE}' AS TIMESTAMP) AS valid_from,
           CASE WHEN c_custkey IN (SELECT k FROM retro_k)
                    THEN CAST(DATE '{_SCD2_RETRO_DATE}' AS TIMESTAMP)
                WHEN c_custkey IN (SELECT k FROM changed1)
                    THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP)
           END AS valid_to,
           c_custkey NOT IN (SELECT k FROM retro_k)
               AND c_custkey NOT IN (SELECT k FROM changed1) AS is_current,
           1 AS version
    FROM customer
    UNION ALL
    -- retro 'MAIL' slice: [retro, wave1) where wave 1 changed the key,
    -- open-ended (and current) where it didn't
    SELECT c_custkey, c_name, 'MAIL',
           CAST(DATE '{_SCD2_RETRO_DATE}' AS TIMESTAMP),
           CASE WHEN c_custkey IN (SELECT k FROM changed1)
                    THEN CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP) END,
           c_custkey NOT IN (SELECT k FROM changed1), 2
    FROM customer WHERE c_custkey IN (SELECT k FROM retro_k)
    UNION ALL
    -- wave-1 'WEB' versions: untouched by the earlier-dated wave, but
    -- renumbered where a retro slice landed beneath them
    SELECT c_custkey, c_name, 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE,
           CASE WHEN c_custkey IN (SELECT k FROM retro_k) THEN 3 ELSE 2 END
    FROM customer WHERE c_custkey IN (SELECT k FROM changed1)
    UNION ALL
    -- wave-1 inserts: keys outside the retro batch, carried verbatim
    SELECT c_custkey + 10000000, c_name || '-new', 'WEB',
           CAST(DATE '{_SCD2_EFF_DATE}' AS TIMESTAMP), NULL, TRUE, 1
    FROM customer WHERE c_custkey % 50 = 0
    UNION ALL
    -- retro inserts: brand-new keys entering at the RETRO date
    SELECT c_custkey + 20000000, c_name || '-retro', 'MAIL',
           CAST(DATE '{_SCD2_RETRO_DATE}' AS TIMESTAMP), NULL, TRUE, 1
    FROM customer WHERE c_custkey % 100 = 0
    """,
)
def q338_scd2_retro(spark, sf_dir) -> DataFrame:
    """OUT-OF-ORDER (late-arriving) SCD2 wave — VERDICT r8 #5: after
    q317's wave-1 merge (effective 2024-06-01), a BACKFILL batch
    arrives dated 2024-03-01 — between the initial load and
    wave 1. scd2_merge's in-plan guard rejects it (silent misordering is
    the only wrong answer); scd2_merge_retro inserts it into the
    timeline instead: the covering version splits at the retro date,
    later versions stand (they are later information), version numbers
    recompute by valid_from order. The batch hits every path: splits of
    CLOSED versions (k%9 ∧ k%5 non-BUILDING → the 3-version chain
    orig→MAIL→WEB), splits of the OPEN version (k%9 only → MAIL becomes
    current), covering-value no-ops (AUTOMOBILE keys), untouched wave-1
    inserts, and retro-dated NEW keys. Same managed-table build +
    write-audit-publish as the rest of the family."""
    tname = _scd2_build_wave1(spark, sf_dir, "t_q338")
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    retro = (
        c.filter((k % 9 == 0) & (F.col("c_mktsegment") != "AUTOMOBILE"))
        .select(
            k.alias("k"),
            F.col("c_name").alias("name"),
            F.lit("MAIL").alias("seg"),
        )
        .unionByName(
            c.filter(k % 9 == 0).filter(
                F.col("c_mktsegment") == "AUTOMOBILE"
            ).select(
                k.alias("k"),
                F.col("c_name").alias("name"),
                F.lit("AUTOMOBILE").alias("seg"),  # covering no-op
            )
        )
        .unionByName(
            c.filter(k % 100 == 0).select(
                (k + 20_000_000).alias("k"),
                F.concat(F.col("c_name"), F.lit("-retro")).alias("name"),
                F.lit("MAIL").alias("seg"),
            )
        )
    )
    merged = scd2_merge_retro(
        spark.table(tname),
        retro,
        key="k",
        attr="seg",
        eff_date=F.to_date(F.lit(_SCD2_RETRO_DATE)),
    )
    stage = tmp_location(f"{tname}_retro_stage_{os.path.basename(sf_dir)}")
    _scd2_publish(spark, tname, stage, merged)
    return _scd2_final_view(spark, tname)


@query(
    "q347_retractable_agg",
    oracle=f"""
    -- DIRECT aggregation of the changelog's FINAL state: survivors are
    -- orders not deleted singly (%10) nor by their customer's purge
    -- (%100), at their current (possibly updated) price. Deliberately
    -- NOT the delta spelling the engine runs — the differential is the
    -- maintained-by-retractions == recomputed-from-state equivalence.
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           {dsum_sql("CASE WHEN o_orderkey % 4 = 0 "
                     "THEN o_totalprice + 100.0 ELSE o_totalprice END")}
               AS total
    FROM orders
    -- null-safe survivorship: an event only FIRES on a non-NULL
    -- residue (a changelog is keyed), so a NULL-keyed order is never
    -- deleted nor purged and must survive; the bare <>-spelling would
    -- silently drop NULL keys (found by the null battery, first pass)
    WHERE NOT COALESCE(o_orderkey % 10 = 0, FALSE)
      AND NOT COALESCE(o_custkey % 100 = 0 AND o_orderkey % 10 <> 0,
                       FALSE)
    GROUP BY o_custkey
    """,
)
def q347_retractable_agg(spark, sf_dir) -> DataFrame:
    """RETRACTABLE AGGREGATE — incremental materialized-view maintenance
    under CDC, the Flink retract-stream / DBSP Z-set discipline: the
    per-customer order MV (count, decimal-exact total) is maintained
    purely from CHANGE DELTAS — an insert contributes (+1, +price), an
    update retracts the before-image and asserts the after-image
    ((-1, -old) + (+1, +new)), a delete retracts the current image
    (-1, -current) — and the MV is the per-group SUM of deltas with
    dead groups (count fallen to zero) dropped at merge. The base table
    is never rescanned; that is the entire point of the operator, and
    the oracle checks it by recomputing the SAME MV directly from the
    final state in a deliberately different spelling — any retraction
    bookkeeping error (missed before-image, double retraction, a dead
    group surviving) diverges the hash.

    Changelog (deterministic, q305's synthesis discipline, over orders):
    seq1 I every order; seq2 U bumps o_orderkey%4==0 by +100.0; seq3 D
    deletes o_orderkey%10==0 singly; seq4 purges every order of
    customers o_custkey%100==0 (the GDPR/q295 shape) — purged customers
    are exactly the groups whose count reaches zero and MUST vanish
    from the MV, the path a naive groupBy-of-current-state never
    exercises. Before-images ride the event (the Debezium envelope's
    `before` field), so delta construction is a stateless map-side
    projection — no window, no join against the MV.

    100 TB posture: deltas partial-aggregate map-side (count/sum are
    mergeable — q106's discipline); one shuffle on the group key merges
    delta partials into the stored MV per micro-batch (foreachBatch,
    q58), touching only groups the batch mentions (q301's
    affected-partition discipline); zero-count groups delete at merge.
    Decimal-exact sums make the fold order-independent, so retraction
    arithmetic cannot drift from the direct recompute. Double-delete is
    structurally impossible here (the purge retracts only orders the
    singleton delete left alive: %10 survivors).

    Null-battery finding (first pass, fixed): delete/purge events FIRE
    on residue predicates, and a NULL key satisfies none of them — the
    delta side therefore keeps a NULL-keyed order alive, while a bare
    `% 10 <> 0` survivor spelling in the direct recompute drops it
    (three-valued logic). The oracle spells survivorship with
    NOT COALESCE(pred, FALSE) to mirror event semantics exactly; the
    same rule applies to any event-sourced view recomputed from state."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_price = F.when(
        F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") + 100.0
    ).otherwise(F.col("o_totalprice"))

    ins = o.select(
        "o_custkey",
        F.lit(1).alias("dn"),
        F.col("o_totalprice").alias("dp"),
    )
    upd = o.filter(F.col("o_orderkey") % 4 == 0)
    upd_deltas = upd.select(
        "o_custkey", F.lit(-1).alias("dn"), (-F.col("o_totalprice")).alias("dp")
    ).unionByName(
        upd.select(
            "o_custkey",
            F.lit(1).alias("dn"),
            (F.col("o_totalprice") + 100.0).alias("dp"),
        )
    )
    dele = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_custkey", F.lit(-1).alias("dn"), (-new_price).alias("dp")
    )
    purge = o.filter(
        (F.col("o_custkey") % 100 == 0) & (F.col("o_orderkey") % 10 != 0)
    ).select("o_custkey", F.lit(-1).alias("dn"), (-new_price).alias("dp"))

    deltas = ins.unionByName(upd_deltas).unionByName(dele).unionByName(purge)
    return (
        deltas.groupBy("o_custkey")
        .agg(
            F.sum("dn").alias("n_orders"),
            # publish via the dsum string bridge — the standing rule for
            # decimal->double publishes (Spark's direct cast happens to be
            # single-rounded, but the oracle side already spells dsum_sql;
            # keep both spellings on the one documented discipline)
            dsum("dp").alias("total"),
        )
        .filter(F.col("n_orders") > 0)
    )
