"""Streaming-specific behavior the batch oracles can't see: late-data
dropping past the watermark (two-micro-batch file replay) and session
boundary semantics."""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime

from pyspark.sql import functions as F

from eclypsium_etl_spark.streaming.queries import stage_feed_file


def _t(s: str) -> datetime:
    return datetime.fromisoformat(f"2024-01-01 {s}")


def test_watermark_finalizes_windows(spark, tmp_path):
    """Append mode + watermark: exactly the windows whose end ≤ the final
    watermark are emitted, each exactly once; open windows never leak.

    (Observed on Spark 4.1: a row older than the current watermark is NOT
    necessarily dropped — numRowsDroppedByWatermark stayed 0 and the late
    window was aggregated then finalized. Late-drop is best-effort per the
    Spark docs; the hard guarantee is finalization, which is what this
    asserts.)"""
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, value double"

    def write_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"_stage_{name}"))
        part = next(
            p for p in (tmp_path / f"_stage_{name}").iterdir() if p.name.endswith(".parquet")
        )
        os.rename(part, src / f"{name}.parquet")

    write_file([(1, _t("12:00:00"), 1.0), (2, _t("12:30:00"), 2.0)], "b1")
    time.sleep(1.1)  # distinct mtimes → file source preserves batch order
    write_file([(3, _t("11:00:00"), 3.0), (4, _t("12:40:00"), 4.0)], "b2")

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .count()
        .select(F.col("window.start").alias("w_start"), "count")
    )
    qname = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(qname).collect()
    starts = [r.w_start for r in rows]
    # final watermark = 12:40 - 10 min = 12:30 → finalized windows are
    # [11:00,11:05) and [12:00,12:05); [12:30,·) and [12:40,·) stay open
    assert sorted(starts) == [_t("11:00:00"), _t("12:00:00")]
    assert len(starts) == len(set(starts)), "append must emit each window once"


def test_session_window_merges_at_exact_gap(spark):
    """Empirical boundary check backing the q55 oracle: an event exactly
    gap after the previous one MERGES into the same session (so the
    oracle's new-session condition is strict >)."""
    df = spark.createDataFrame(
        [(1, _t("10:00:00")), (1, _t("10:30:00"))],
        "user_id long, ts timestamp",
    )
    out = df.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().collect()
    assert len(out) == 1 and out[0]["count"] == 2


def test_kafka_stream_options():
    """Kafka option map (pure — no Kafka needed): topic list joins, the
    backpressure knob emits only when set, empty inputs are config errors."""
    import pytest

    from eclypsium_etl_spark.streaming.queries import kafka_stream_options

    opts = kafka_stream_options(
        "k1:9092,k2:9092", ["events", "clicks"],
        starting_offsets="latest", max_offsets_per_trigger=100_000,
        fail_on_data_loss=False,
    )
    assert opts == {
        "kafka.bootstrap.servers": "k1:9092,k2:9092",
        "subscribe": "events,clicks",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "100000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_stream_options("k:9092", "t")
    with pytest.raises(ValueError):
        kafka_stream_options("", "t")
    with pytest.raises(ValueError):
        kafka_stream_options("k:9092", [])


def test_transform_with_state(spark):
    """q113 is registered unconditionally: the StatefulProcessor path where
    protobuf exists, the GroupState typed-cents fallback otherwise — both
    must converge to the exact per-user decimal total the oracle states."""
    import duckdb

    from eclypsium_etl_spark import registry
    from eclypsium_etl_spark.streaming.advanced_queries import (
        q113_stream_transform_state,
        transform_state_available,
    )

    queries, oracles = registry.load_all()
    assert "q113_stream_transform_state" in queries
    assert "q113_stream_transform_state" in oracles
    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r["running_total"]
        for r in q113_stream_transform_state(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = dict(con.execute(oracles["q113_stream_transform_state"]).fetchall())
    assert got == want
    # record which path ran (both share the semantics; only one is runnable
    # per image) — the assert above is the evidence either way
    assert transform_state_available() in (True, False)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Exactly-once across a restart: drain a file stream with
    availableNow, add a new source file, then resume from the SAME
    checkpoint — the second drain must process only the new file (the
    checkpoint's source offsets skip everything already committed), so
    the sink holds each input row exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from eclypsium_etl_spark.io import table
    from eclypsium_etl_spark.streaming.queries import _events_raw_schema

    from .conftest import SF_SMOKE

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    e = table(spark, SF_SMOKE, "events")

    def stage(name, pred):
        tmp = tmp_path / f"stage_{name}"
        e.filter(pred).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def drain():
        s = spark.readStream.schema(_events_raw_schema(False)).parquet(str(src))
        q = (
            s.select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage("f1", F.col("user_id") < 10)
    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == e.filter(F.col("user_id") < 10).count()

    stage("f2", (F.col("user_id") >= 10) & (F.col("user_id") < 20))
    drain()
    got = spark.read.parquet(out)
    expected = e.filter(F.col("user_id") < 20)
    # exactly-once: every row once, none duplicated by the resume
    assert got.count() == expected.count()
    assert got.select("event_id").distinct().count() == expected.count()


def test_state_metadata_reader(spark, tmp_path):
    """The state-metadata companion format: operator name, store name,
    partition count, and batch range of q243-style checkpoints are
    readable without touching state bytes."""
    import uuid

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k % 3, k) for k in range(30)], "g long, v long")
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.schema("g long, v long")
        .parquet(src)
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(f"sm_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m.operatorName == "stateStoreSave"
    assert m.numPartitions >= 1 and m.maxBatchId >= m.minBatchId


def test_state_metrics_recorded_on_drain(spark):
    """run_available_now must capture the drained stream's state-store
    telemetry (peak numRowsTotal/memoryUsedBytes across micro-batches)
    into LAST_STATE_METRICS — scripts/scale_proof.py's streaming
    bounded-state measurement reads it, so a silent telemetry regression
    would turn the state-growth assertions into 0/0 no-ops."""
    from eclypsium_etl_spark import registry
    from eclypsium_etl_spark.streaming import queries as sq

    Q, _ = registry.load_all()
    Q["q57_stream_dedup_state"](spark, "/root/testdata/sf0.001").count()
    assert sq.LAST_STATE_METRICS, "no telemetry recorded"
    m = next(iter(sq.LAST_STATE_METRICS.values()))
    assert m["n_batches"] >= 1
    assert m["peak_state_rows"] > 0  # dedup state holds the seen keys
    assert m["peak_state_bytes"] > 0


def test_drains_leave_no_residue(spark):
    """A drain cleans up after itself: rerunning the memory-sink (q57),
    foreachBatch (q342, q329) and caller-checkpointed (q332) streams
    leaves no checkpoint or feed dir in the temp dir, no extra catalog
    entry and no changed session conf — while every returned DataFrame
    collects its rows after the call returns. q243's state read is lazy,
    so its caller-owned checkpoint is the one entry allowed to stay."""
    import tempfile
    from collections import Counter

    from eclypsium_etl_spark import registry

    from .conftest import SF_SMOKE

    Q, _ = registry.load_all()
    names = [
        "q57_stream_dedup_state",
        "q342_stream_corpus_dedup",
        "q329_stream_scd2",
        "q332_stream_kmeans",
    ]
    provider = "spark.sql.streaming.stateStore.providerClass"

    def temp_entries():
        return {
            e
            for e in os.listdir(tempfile.gettempdir())
            if e.startswith("eclypsium_ckpt_")
            or (e.startswith("eclypsium_") and "_feed_" in e)
        }

    def catalog():
        return {(t.name, t.isTemporary) for t in spark.catalog.listTables()}

    def conf():
        return (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get(provider, None),
        )

    def rows(df):
        return Counter(map(tuple, df.collect()))

    tmp0, conf0 = temp_entries(), conf()
    first = {n: Q[n](spark, SF_SMOKE) for n in names}
    want = {n: rows(df) for n, df in first.items()}
    tables1 = catalog()
    second = {n: Q[n](spark, SF_SMOKE) for n in names}
    assert catalog() <= tables1
    for n in names:
        assert want[n], n
        assert rows(second[n]) == want[n], n
    # the memory sink lives as long as the DataFrame, not its temp view
    q57 = "q57_stream_dedup_state"
    assert rows(first[q57]) == want[q57]
    assert temp_entries() == tmp0

    state = Q["q243_state_reader"](spark, SF_SMOKE)
    assert rows(state)
    left = temp_entries() - tmp0
    assert len(left) <= 1 and all(e.startswith("eclypsium_ckpt_") for e in left)
    assert conf() == conf0


def test_dedup_within_watermark_reemits_after_horizon(spark, tmp_path):
    """q321's declared boundary, exercised (SURVEY round-9 forward-plan
    item 3): dropDuplicatesWithinWatermark only guarantees dedup WITHIN
    the watermark horizon — a key recurring after its state evicted
    RE-EMITS, and which occurrence survives a batch boundary is
    batch-dependent, which is exactly why q321 pins the deterministic
    regime (delay >= replay span) for its closed-form oracle. Here the
    horizon-crossing behavior itself is pinned on a controlled
    two-batch replay (maxFilesPerTrigger=1, distinct mtimes):

    Three batches, because two subtleties govern the horizon (both
    observed on Spark 4.1 while building this): a duplicate REFRESHES
    its key's expiry (the guarantee is 'no two emissions within delay
    OF EACH OTHER', not of the first), and eviction runs at batch END —
    so a key only re-emits after an INTERVENING batch advanced the
    watermark past its (possibly refreshed) expiry without touching it:

    - b1: A twice in-batch (12:00, 12:01 -> ONE row), B at 12:05, and
      a watermark-driver key W at 12:30 advancing the watermark to
      12:30 - 10min = 12:20;
    - b2: C at 13:00 only -> the eviction pass at b2's end runs with
      the watermark DERIVED FROM b1 (12:20 — a third observed
      subtlety: eviction uses the previous batch's watermark, the
      13:00-derived 12:50 only arms for the NEXT batch), evicting A
      (expiry ~12:11) and B (12:15);
    - b3: A at 13:05 and B at 12:55 RE-EMIT (state gone); C's 13:01
      duplicate is inside C's horizon (13:10) and is dropped."""
    src = tmp_path / "dedup_src"
    src.mkdir()
    schema = "k string, ts timestamp"

    def write_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"_stage_{name}")
        )
        part = next(
            p
            for p in (tmp_path / f"_stage_{name}").iterdir()
            if p.name.endswith(".parquet")
        )
        os.rename(part, src / f"{name}.parquet")

    write_file(
        [
            ("A", _t("12:00:00")),
            ("A", _t("12:01:00")),
            ("B", _t("12:05:00")),
            ("W", _t("12:30:00")),
        ],
        "b1",
    )
    time.sleep(1.1)
    write_file([("C", _t("13:00:00"))], "b2")
    time.sleep(1.1)
    write_file(
        [("A", _t("13:05:00")), ("B", _t("12:55:00")), ("C", _t("13:01:00"))],
        "b3",
    )

    deduped = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    qname = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path / "ckpt_ddw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted((r.k, r.ts) for r in spark.table(qname).collect())
    ks = [k for k, _ in rows]
    assert ks == ["A", "A", "B", "B", "C", "W"], rows
    # the re-emissions are the post-eviction occurrences; C's in-horizon
    # duplicate (13:01) must NOT appear
    assert ("A", _t("13:05:00")) in rows and ("B", _t("12:55:00")) in rows
    assert ("C", _t("13:01:00")) not in rows


# ---- restart-recovery pins for the foreachBatch family (r9 verdict #3) ----
#
# All three simulate the SAME crash: the handler ran for batch 0 and its
# effects are durable, but the driver died before Spark recorded the
# batch commit (delete <ckpt>/commits/0) — so a restart from the
# checkpoint REPLAYS batch 0 into a fresh process (fresh handler, empty
# in-memory guards) before processing the new data. The pin: final state
# must equal a clean, uncrashed run's.


def _simulate_commit_loss(ckpt: str, batch_id: int = 0) -> None:
    """Crash window: offsets/N written (batch ran) but commits/N never
    recorded — the restart replays batch N. Hadoop's local FS keeps a
    hidden CRC sidecar per metadata file; it must go too or the
    replayed commit's rename collides on `.N.crc`."""
    p = os.path.join(ckpt, "commits", str(batch_id))
    assert os.path.exists(p), f"expected a recorded commit at {p}"
    os.remove(p)
    crc = os.path.join(ckpt, "commits", f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_restart_replay_stream_kmeans_exactly_once(spark, tmp_path):
    """q332's model fold across a driver restart: the replayed batch
    must fold EXACTLY ONCE (the persisted-sidecar fix) — the final
    centroids equal the uncrashed run's bit-for-bit, and the folded row
    count equals the corpus (a double-count reads evens twice)."""
    import json

    from eclypsium_etl_spark.io import table
    from eclypsium_etl_spark.llm.clustering import (
        _SKM_K,
        _SKM_STATE_FILE,
        stream_kmeans_fold,
    )

    from .conftest import SF_SMOKE

    em = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    init = [
        (r["vec_id"], r["embedding"])
        for r in em.filter(F.col("vec_id") % 2 == 0)
        .orderBy("vec_id")
        .limit(_SKM_K)
        .collect()
    ]
    t0 = time.time()

    # clean reference: both batches, no crash
    src_ref = str(tmp_path / "feed_ref")
    os.makedirs(src_ref)
    stage_feed_file(em.filter(F.col("vec_id") % 2 == 0), src_ref, "b0.parquet", t0 - 60)
    stage_feed_file(em.filter(F.col("vec_id") % 2 == 1), src_ref, "b1.parquet", t0 - 30)
    ckpt_ref = str(tmp_path / "ckpt_ref")
    os.makedirs(ckpt_ref)
    cents_ref = stream_kmeans_fold(spark, src_ref, init, ckpt_ref)

    # crashed run: drain b0, lose its commit, add b1, restart
    src = str(tmp_path / "feed")
    os.makedirs(src)
    stage_feed_file(em.filter(F.col("vec_id") % 2 == 0), src, "b0.parquet", t0 - 60)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    stream_kmeans_fold(spark, src, init, ckpt)
    _simulate_commit_loss(ckpt)
    stage_feed_file(em.filter(F.col("vec_id") % 2 == 1), src, "b1.parquet", t0 - 30)
    cents = stream_kmeans_fold(spark, src, init, ckpt)  # fresh handler

    assert cents == cents_ref
    with open(os.path.join(ckpt, _SKM_STATE_FILE)) as f:
        state = json.load(f)
    folded = sum(cn for _, dim, _, cn in state["sums"] if dim == 0)
    assert folded == em.count()  # every row folded exactly once


def test_restart_replay_corpus_dedup_idempotent(spark, tmp_path):
    """q342's ingest across a driver restart: the replayed batch's
    anti-join re-rejects everything the pre-crash append admitted, so
    the index holds each digest exactly once and matches the clean run."""
    from eclypsium_etl_spark.io import recreate_table, table, tmp_location
    from eclypsium_etl_spark.streaming.queries import (
        corpus_ingest_handler,
        run_available_now,
    )

    from .conftest import SF_SMOKE

    d = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    w0 = d.filter(F.col("doc_id") % 2 == 0).withColumn("wave", F.lit(0))
    w1 = d.filter(F.col("doc_id") % 2 == 1).withColumn("wave", F.lit(1))
    t0 = time.time()

    def mk_table(tname):
        loc = tmp_location(f"{tname}_tbl_pin")
        recreate_table(
            spark,
            tname,
            loc,
            f"CREATE TABLE {tname} (doc_id BIGINT, digest STRING, wave INT)"
            f" USING parquet LOCATION '{loc}'",
        )

    def drain(src, ckpt, tname):
        feed = (
            spark.readStream.schema("doc_id bigint, text string, wave int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_available_now(
            feed.writeStream.foreachBatch(corpus_ingest_handler(spark, tname)),
            ckpt,
        )
        spark.catalog.refreshTable(tname)

    # clean reference
    mk_table("t_pin_dedup_ref")
    src_ref = str(tmp_path / "feed_ref")
    os.makedirs(src_ref)
    stage_feed_file(w0, src_ref, "w0.parquet", t0 - 60)
    stage_feed_file(w1, src_ref, "w1.parquet", t0 - 30)
    ckpt_ref = str(tmp_path / "ckpt_ref")
    os.makedirs(ckpt_ref)
    drain(src_ref, ckpt_ref, "t_pin_dedup_ref")
    ref = sorted(
        (r.doc_id, r.digest, r.wave)
        for r in spark.table("t_pin_dedup_ref").collect()
    )

    # crashed run
    mk_table("t_pin_dedup")
    src = str(tmp_path / "feed")
    os.makedirs(src)
    stage_feed_file(w0, src, "w0.parquet", t0 - 60)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    drain(src, ckpt, "t_pin_dedup")
    _simulate_commit_loss(ckpt)
    stage_feed_file(w1, src, "w1.parquet", t0 - 30)
    drain(src, ckpt, "t_pin_dedup")  # fresh handler = fresh applied set

    got = sorted(
        (r.doc_id, r.digest, r.wave)
        for r in spark.table("t_pin_dedup").collect()
    )
    assert got == ref
    # each digest exactly once — replay appended nothing
    n = spark.table("t_pin_dedup").count()
    assert spark.table("t_pin_dedup").select("digest").distinct().count() == n


def test_restart_replay_stream_scd2_noop_merge(spark, tmp_path):
    """q329's merge across a driver restart: the replayed wave re-merges
    against the already-merged table — every row classifies no-op (the
    out-of-order guard must NOT fire on the eff_date == valid_from
    replay) and the final history equals the clean run's."""
    from eclypsium_etl_spark.io import table
    from eclypsium_etl_spark.operators.incremental import (
        _SCD2_EFF_DATE,
        _SCD2_W2_DATE,
        _scd2_create_init,
        _scd2_final_view,
        _scd2_wave1_batch,
        _scd2_wave2_batch,
        scd2_wave_handler,
    )
    from eclypsium_etl_spark.streaming.queries import run_available_now

    from .conftest import SF_SMOKE

    c = table(spark, SF_SMOKE, "customer")
    waves = [
        (_SCD2_EFF_DATE, _scd2_wave1_batch(c)),
        (_SCD2_W2_DATE, _scd2_wave2_batch(c)),
    ]
    t0 = time.time()

    def drain(src, ckpt, tname):
        feed = (
            spark.readStream.schema(
                "k bigint, name string, seg string, eff string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_available_now(
            feed.writeStream.foreachBatch(scd2_wave_handler(spark, tname, "pin")),
            ckpt,
        )

    # clean reference
    _scd2_create_init(spark, SF_SMOKE, "t_pin_scd2_ref")
    src_ref = str(tmp_path / "feed_ref")
    os.makedirs(src_ref)
    for i, (eff, wave) in enumerate(waves):
        stage_feed_file(
            wave.withColumn("eff", F.lit(eff)),
            src_ref,
            f"w{i}.parquet",
            t0 - 60 + 30 * i,
        )
    ckpt_ref = str(tmp_path / "ckpt_ref")
    os.makedirs(ckpt_ref)
    drain(src_ref, ckpt_ref, "t_pin_scd2_ref")
    ref = sorted(
        map(tuple, _scd2_final_view(spark, "t_pin_scd2_ref").collect())
    )

    # crashed run: wave 1 applied + published, commit lost, restart
    _scd2_create_init(spark, SF_SMOKE, "t_pin_scd2")
    src = str(tmp_path / "feed")
    os.makedirs(src)
    stage_feed_file(
        waves[0][1].withColumn("eff", F.lit(waves[0][0])),
        src,
        "w0.parquet",
        t0 - 60,
    )
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    drain(src, ckpt, "t_pin_scd2")
    _simulate_commit_loss(ckpt)
    stage_feed_file(
        waves[1][1].withColumn("eff", F.lit(waves[1][0])),
        src,
        "w1.parquet",
        t0 - 30,
    )
    drain(src, ckpt, "t_pin_scd2")

    got = sorted(map(tuple, _scd2_final_view(spark, "t_pin_scd2").collect()))
    assert got == ref


def test_restart_replay_retractable_mv_exactly_once(spark, tmp_path):
    """q351's merge across a driver restart: the crash window (merge
    committed, batch commit lost) REPLAYS the update wave into a fresh
    process — the per-group last_seq watermark must make it a no-op, so
    the final MV equals a clean uncrashed run's bit-for-bit (a
    double-applied retract+assert wave shifts every %4 group's total by
    +100 and is unmissable)."""
    from eclypsium_etl_spark.streaming.queries import (
        retractable_mv_create,
        retractable_mv_drain,
        retractable_mv_waves,
    )

    from .conftest import SF_SMOKE

    waves = retractable_mv_waves(spark, SF_SMOKE)
    t0 = time.time()

    def final_rows(tname):
        spark.catalog.refreshTable(tname)
        return sorted(
            (
                r["o_custkey"],
                r["n_orders"],
                str(r["total_dec"]),
                r["last_seq"],
            )
            for r in spark.table(tname).collect()
        )

    # clean reference: all four waves, no crash
    src_ref = str(tmp_path / "mv_feed_ref")
    os.makedirs(src_ref)
    for i, w in enumerate(waves):
        stage_feed_file(w, src_ref, f"w{i}.parquet", t0 - 120 + 10 * i)
    retractable_mv_create(spark, "t_q351_pin_ref", str(tmp_path / "mv_ref"))
    retractable_mv_drain(spark, "t_q351_pin_ref", src_ref)
    ref = final_rows("t_q351_pin_ref")
    assert len(ref) > 0

    # crashed run: drain waves 0-1, lose batch 1's commit, add waves
    # 2-3, restart from the same checkpoint (fresh handler)
    src = str(tmp_path / "mv_feed")
    os.makedirs(src)
    for i in (0, 1):
        stage_feed_file(waves[i], src, f"w{i}.parquet", t0 - 120 + 10 * i)
    retractable_mv_create(spark, "t_q351_pin", str(tmp_path / "mv_crash"))
    ckpt = str(tmp_path / "mv_ckpt")
    os.makedirs(ckpt)
    retractable_mv_drain(spark, "t_q351_pin", src, ckpt=ckpt)
    _simulate_commit_loss(ckpt, 1)
    for i in (2, 3):
        stage_feed_file(waves[i], src, f"w{i}.parquet", t0 - 120 + 10 * i)
    retractable_mv_drain(spark, "t_q351_pin", src, ckpt=ckpt)

    assert final_rows("t_q351_pin") == ref


def test_restart_replay_rag_index_per_side_idempotent(spark):
    """q362's incremental RAG index across restarts: (1) a fully
    replayed batch (fresh process → fresh applied set) appends nothing
    to either table; (2) a crash BETWEEN the two appends — postings
    landed, pool lost — replays into a fill of ONLY the missing side,
    because each side anti-joins its OWN table (idempotence by data,
    per side; two plain parquet tables have no cross-table
    transaction)."""
    import shutil

    from eclypsium_etl_spark.io import table, tmp_location
    from eclypsium_etl_spark.streaming.queries import (
        rag_index_handler,
        rag_index_tables,
    )

    from .conftest import SF_SMOKE

    tpost, tpool = rag_index_tables(spark, SF_SMOKE)
    d = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    w0 = d.filter(F.col("doc_id") % 3 == 0)

    rag_index_handler(spark, tpost, tpool, SF_SMOKE)(w0, 0)
    spark.catalog.refreshTable(tpost)
    spark.catalog.refreshTable(tpool)
    post0 = spark.table(tpost).count()
    pool0 = sorted(
        (r.doc, tuple(r.vec)) for r in spark.table(tpool).collect()
    )
    assert post0 > 0 and pool0

    # (1) full-batch replay after restart: fresh handler, same batch
    rag_index_handler(spark, tpost, tpool, SF_SMOKE)(w0, 0)
    spark.catalog.refreshTable(tpost)
    spark.catalog.refreshTable(tpool)
    assert spark.table(tpost).count() == post0
    assert len(spark.table(tpool).collect()) == len(pool0)

    # (2) crash between appends: postings landed, pool lost — wipe the
    # pool table's files on disk and replay the batch
    pool_loc = tmp_location(f"{tpool}_tbl")
    shutil.rmtree(pool_loc)
    os.makedirs(pool_loc)
    spark.catalog.refreshTable(tpool)
    assert spark.table(tpool).count() == 0

    rag_index_handler(spark, tpost, tpool, SF_SMOKE)(w0, 0)
    spark.catalog.refreshTable(tpost)
    spark.catalog.refreshTable(tpool)
    assert spark.table(tpost).count() == post0, "landed side re-appended"
    refilled = sorted(
        (r.doc, tuple(r.vec)) for r in spark.table(tpool).collect()
    )
    assert refilled == pool0, "missing side not refilled bit-identically"


def test_restart_replay_ivf_ingest_idempotent(spark):
    """q365's streaming vector ingest across a restart: a fully
    replayed batch (fresh handler, same wave) assigns and appends
    NOTHING — the vec_id anti-join makes the append idempotent by
    data — and the accumulated assignment equals a from-scratch batch
    assign of the same vectors under the frozen centroids."""
    from eclypsium_etl_spark.io import table
    from eclypsium_etl_spark.llm.clustering import assign_to_centroids
    from eclypsium_etl_spark.streaming.queries import (
        ivf_ingest_handler,
        ivf_ingest_table,
    )

    from .conftest import SF_SMOKE

    em = table(spark, SF_SMOKE, "embeddings")
    cents = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )
    tasg = ivf_ingest_table(spark, SF_SMOKE)
    w0 = em.select("vec_id", "embedding").filter(F.col("vec_id") % 3 == 0)

    ivf_ingest_handler(spark, tasg, cents)(w0, 0)
    spark.catalog.refreshTable(tasg)
    got0 = sorted(
        (r.vec_id, r.cent_id) for r in spark.table(tasg).collect()
    )
    assert got0

    # restart replay: fresh handler (fresh applied-set), same batch
    ivf_ingest_handler(spark, tasg, cents)(w0, 0)
    spark.catalog.refreshTable(tasg)
    assert (
        sorted((r.vec_id, r.cent_id) for r in spark.table(tasg).collect())
        == got0
    ), "replayed batch must append nothing"

    # incremental == batch: same frozen centroids, one-shot assign
    ref = sorted(
        (r.vec_id, r.cent_id)
        for r in assign_to_centroids(w0, cents)
        .select("vec_id", "cent_id")
        .collect()
    )
    assert got0 == ref
