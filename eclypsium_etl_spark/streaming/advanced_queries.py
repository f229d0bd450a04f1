"""Checked queries for the custom stateful operators and related
streaming extensions (q87 applyInPandasWithState, q113
transformWithStateInPandas)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..registry import query
from .queries import drain_to_memory, run_available_now, stream_events

_ORACLE_Q87 = """
WITH totals AS (
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total
    FROM events GROUP BY user_id
)
SELECT user_id, total AS batch_total, total AS running_total,
       (total >= 1000.0) AS crossed
FROM totals
"""


@query("q87_stream_stateful", oracle=_ORACLE_Q87)
def q87_stream_stateful(spark, sf_dir) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user spend with threshold alerts. On a single-batch availableNow
    replay the converged state equals a per-user batch aggregate, which is
    what the oracle states; multi-batch accumulation semantics are covered
    in tests/test_scale_features.py::test_stateful_accumulates_across_batches."""
    from .stateful import running_spend

    out = running_spend(stream_events(spark, sf_dir))
    return drain_to_memory(out, "update")


# DuckDB twin for q113 (used when the query is registered, and by the
# gated test as its expected-result source)
_ORACLE_Q113 = """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS running_total
FROM events GROUP BY user_id
"""


def transform_state_available() -> bool:
    """transformWithStateInPandas needs protobuf for its control-plane
    messages; this container ships pyspark without it (and installs are
    not possible here), so q113 runs its GroupState fallback where the
    dependency is absent (same typed integer-cents value-state semantics,
    see _running_cents_fallback)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _running_cents_fallback(spark, sf_dir) -> DataFrame:
    """q113's semantics on the GroupState API: value state holding integer
    ten-thousandths ("cents") — the exact accumulation contract of the
    StatefulProcessor path — via applyInPandasWithState, which this image
    does support (q87 proves it end-to-end). The float payload converts to
    cents on entry and back to double only on emission, so cross-batch
    accumulation is exact regardless of batch count or order."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        batch = 0
        for pdf in pdfs:
            # dropna→int64 — NaN-safe, NA-skipping (SUM semantics)
            # at plain-int speed (see stateful._track_spend)
            batch += int(
                (pdf["value"] * 10_000)
                .round()
                .dropna()
                .astype("int64")
                .sum()
            )
        total = (state.get[0] if state.exists else 0) + batch
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "running_total": [total / 10_000.0]}
        )

    return (
        stream_events(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, running_total double",
            stateStructType="cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query("q113_stream_transform_state", oracle=_ORACLE_Q113)
def q113_stream_transform_state(spark, sf_dir) -> DataFrame:
    """The Spark 4 arbitrary-state API (transformWithStateInPandas /
    StatefulProcessor): the q87 spend tracker rebuilt on typed value state
    that stores integer CENTS natively — no float round-trip at all, the
    state-schema-first posture the older GroupState API can't express.
    Requires the RocksDB state store provider (set per-session below),
    which is the 100 TB posture anyway: state off-heap, bounded memory,
    incremental snapshots. Single-batch availableNow replay converges to
    the per-user batch aggregate stated by _ORACLE_Q113.

    Where protobuf is absent (this image: transformWithStateInPandas's
    control plane can't import), the SAME typed-cents value-state
    semantics run on the GroupState API (_running_cents_fallback) so the
    query id stays checkable; tests/test_streaming.py asserts the two
    paths agree wherever both are runnable."""
    if not transform_state_available():
        out = _running_cents_fallback(spark, sf_dir)
        return drain_to_memory(out, "update")

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SpendProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._cents = handle.getValueState("cents", "total long")

        def handleInputRows(self, key, rows, timerValues):
            batch = 0
            for pdf in rows:
                # dropna→int64 — NaN-safe, NA-skipping (SUM semantics)
                batch += int(
                    (pdf["value"] * 10_000)
                    .round()
                    .dropna()
                    .astype("int64")
                    .sum()
                )
            prev = self._cents.get()
            total = (prev[0] if prev else 0) + batch
            self._cents.update((total,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "running_total": [total / 10_000.0]}
            )

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = (
            stream_events(spark, sf_dir)
            .select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                SpendProcessor(),
                outputStructType="user_id long, running_total double",
                outputMode="Update",
                timeMode="None",
            )
        )
        return drain_to_memory(out, "update")
    finally:
        # restore: later streams must not silently inherit RocksDB
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)


@query(
    "q118_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.value,
           c.c_name AS user_name, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def q118_stream_static_join(spark, sf_dir) -> DataFrame:
    """Stream-static join: every micro-batch enriches the event stream
    with a STATIC dimension (no watermark needed — only the stream side
    is unbounded, the dimension re-scans per batch and may be broadcast).
    This is the canonical streaming enrichment shape; availableNow replay
    of the finite source converges to the plain batch join the oracle
    states. At 100 TB/day the dimension is a slowly-changing table the
    batch planner broadcasts; for mutable dims you graduate to a
    stream-stream join with watermarks (q101)."""
    from pyspark.sql import functions as F

    from ..io import table

    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = (
        stream_events(spark, sf_dir)
        .select("event_id", "user_id", "value")
        .join(F.broadcast(dim), "user_id")
        .select("event_id", "user_id", "value", "user_name", "segment")
    )
    return drain_to_memory(enriched)


# --------------------------------------- q229: Python streaming source

_TICK_TOTAL = 3_000  # rows the synthetic source emits before going idle
_TICK_STEP = 1_000   # rows per micro-batch offset advance


def _tick_rows(lo: int, hi: int):
    """Deterministic synthetic feed rows for [lo, hi): integer-derived so
    replays and cross-engine oracles agree exactly (prices are quarters).
    Returns a LIST iterator, not a generator — the prefetch cache
    copy.copy()s the iterator between planning and execution, and
    generators aren't copyable."""
    return iter([(k, k % 7, (k * 37 % 1000) / 4.0) for k in range(lo, hi)])


try:  # Spark 4.x Python Data Source streaming API
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _TickStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked streaming reader: offsets are {"i": row_index};
        read() serves the prefetch path, readBetweenOffsets() the replay
        path after failure — both derive rows from the offset alone, which
        is the exactly-once contract (deterministic replay per offset
        range, no side state)."""

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= _TICK_TOTAL:
                return iter([]), start
            j = min(i + _TICK_STEP, _TICK_TOTAL)
            return _tick_rows(i, j), {"i": j}

        def readBetweenOffsets(self, start, end):
            return _tick_rows(start["i"], end["i"])

    class TickStreamSource(DataSource):
        """readStream.format("tick_stream") — the streaming twin of q221's
        batch Python data source."""

        @classmethod
        def name(cls):
            return "tick_stream"

        def schema(self):
            return "id BIGINT, grp BIGINT, amount DOUBLE"

        def simpleStreamReader(self, schema):
            return _TickStreamReader()

    _HAS_PY_STREAM_SOURCE = True
except ImportError:  # pragma: no cover - older pyspark
    _HAS_PY_STREAM_SOURCE = False


@query(
    "q229_python_stream_source",
    oracle="""
    SELECT i % 7 AS grp,
           COUNT(*) AS n,
           CAST(SUM(CAST((i * 37 % 1000) / 4.0 AS DECIMAL(28,4))) AS DOUBLE)
               AS amount_total
    FROM range(0, 3000) t(i)
    GROUP BY i % 7
    """,
)
def q229_python_stream_source(spark, sf_dir) -> DataFrame:
    """Custom STREAMING connector via the Python Data Source API
    (SimpleDataSourceStreamReader): a Kafka-shaped feed — monotonically
    advancing offsets, deterministic replay between any two offsets —
    implemented in pure Python and consumed as a normal readStream with
    checkpointed state. The complete-mode rollup must converge to exactly
    the batch aggregate over everything the source ever emitted, which is
    what the oracle states over the same integer-derived rows.

    Drain protocol: availableNow snapshots only the source's prefetched
    first batch for a simple reader, so the query polls the sink under a
    processingTime trigger until the emitted row count reaches the
    source's total — then stops. A real deployment just leaves the stream
    running; the bounded poll is the hermetic-test harness shape. Offsets
    are tiny dicts; state (7 groups) is bounded — the 100 TB concern
    (unbounded state) doesn't arise for keyed rollups over a fixed key
    domain."""
    if not _HAS_PY_STREAM_SOURCE:  # pragma: no cover
        raise NotImplementedError("pyspark.sql.datasource requires Spark 4+")
    import tempfile
    import time
    import uuid

    from pyspark.sql import functions as F

    from ..functions import dsum

    spark.dataSource.register(TickStreamSource)
    sdf = spark.readStream.format("tick_stream").load()
    agg = sdf.groupBy("grp").agg(
        F.count("*").alias("n"), dsum("amount").alias("amount_total")
    )
    qname = f"tick_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="eclypsium_tick_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = (
                spark.sql(f"SELECT COALESCE(SUM(n), 0) FROM {qname}").collect()[0][0]
                == _TICK_TOTAL
            )
            if done:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("tick_stream did not drain within 120s")
    finally:
        q.stop()
    return spark.table(qname)


@query(
    "q243_state_reader",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def q243_state_reader(spark, sf_dir) -> DataFrame:
    """State Store data source (Spark 4.x `format("statestore")`): the
    checkpoint of a streaming aggregation read back as an ordinary batch
    DataFrame — the operational debugging surface for stateful streams
    (inspect what a stuck query is actually holding, audit state size per
    key, verify a migration) without stopping or instrumenting the query.

    The checked claim is the strongest one available: after an
    availableNow drain of the finite source, the per-key counts IN THE
    STATE FILES equal the batch aggregate over the same data — state is
    not an opaque blob but an exactly-recoverable table. Keys and values
    come back as typed structs (key.event_type, value.count); the
    `state-metadata` format (operator names, partition counts, batch
    range) is exercised in tests. At 100 TB this reader is also the
    escape hatch for state surgery: read, repair, and seed a new
    checkpoint offline."""
    import tempfile

    from pyspark.sql import functions as F

    counts = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    # the lazy state read below needs the checkpoint after the drain, so
    # it is created (and owned) here rather than by run_available_now
    ckpt = tempfile.mkdtemp(prefix="eclypsium_ckpt_")
    qname = run_available_now(
        counts.writeStream.outputMode("complete").format("memory"), ckpt
    )
    spark.catalog.dropTempView(qname)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )
