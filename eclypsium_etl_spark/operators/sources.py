"""Scans / sources / sinks — SURVEY.md §2.1 (q01–q06).

Reference behavior re-expressed Spark-first:
- q01: the reference's table scan is a Postgres read (mercadolibre_pipeline_dag.py:75);
  ours is a vectorized Parquet scan with pushdown/pruning.
- q02: requests.get + json.loads (reference :20-33) becomes a schema'd
  ``from_json`` over a JSON payload column.
- q03: the serial per-category HTTP fan-out loop (reference :44-45) becomes a
  parallel union-all of filtered scans — at 100 TB each branch is a
  partition-pruned scan, and ``unionByName`` keeps it a metadata-only plan node.
- q04: ``to_sql(if_exists="replace")`` (reference :65) becomes an idempotent
  ``mode("overwrite")`` Parquet write (verified by re-read).
- q05: the JDBC boundary (reference :63-75) — no database in the test env, so
  the checked query is a partitioned-Parquet round-trip; the actual JDBC
  wrappers live in io.py.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, functions as F, types as T

from ..io import memo_location, recreate_table, sink_overwrite, table, tmp_location
from ..registry import query
from ..schemas import EVENT_PROPS


@query(
    "q01_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q01_scan_parquet(spark, sf_dir) -> DataFrame:
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "q02_source_json",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q02_source_json(spark, sf_dir) -> DataFrame:
    """Schema'd JSON parsing of the events.props payload column."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id", F.from_json("props", EVENT_PROPS).getField("k").alias("k")
    )


_FANOUT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE"]


@query(
    "q03_source_fanout_union",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')
    """,
)
def q03_source_fanout_union(spark, sf_dir) -> DataFrame:
    """Parameterized fan-out + union-all. Each branch is an independent
    filtered scan (partition-prunable at scale); the union is lazy plan
    composition, not materialization."""
    branches = [
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == seg)
        .select("c_custkey", "c_name", "c_mktsegment")
        for seg in _FANOUT_SEGMENTS
    ]
    return reduce(DataFrame.unionByName, branches)


@query(
    "q04_sink_overwrite",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q04_sink_overwrite(spark, sf_dir) -> DataFrame:
    """Idempotent full-replace sink, verified by re-read: write the filtered
    orders to Parquet with mode("overwrite") twice (rerun-safety, the
    reference's contract), then scan the result back."""
    out = tmp_location("q04_sink")
    df = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    sink_overwrite(df, out)
    sink_overwrite(df, out)  # idempotent rerun
    return spark.read.parquet(out)


@query(
    "q05_sink_jdbc",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    """,
)
def q05_sink_jdbc(spark, sf_dir) -> DataFrame:
    """REAL JDBC round trip (reference: SQLAlchemy→Postgres to_sql /
    read_sql, mercadolibre_pipeline_dag.py:63-75): Spark ships embedded
    Apache Derby in its own jars, so the write goes through the actual
    JDBC sink (INSERT batches per task, mode=overwrite DROP+CREATE via
    DerbyDialect DDL) and the read back through the actual JDBC source
    with ALL FOUR partition options — Spark issues one bounded WHERE
    range query per partition, the parallel-scan shape a warehouse read
    at scale requires (a boundless JDBC read is one connection on one
    executor). Pointing at Postgres instead is a URL + driver-jar swap;
    everything else — io.read_jdbc / io.write_jdbc — is unchanged.

    Derby-specific care: derby.system.home is pinned to scratch BEFORE
    the first connection (else derby.log lands in the cwd), and the DB
    is IN-MEMORY, named by the full fixture path: it lives in this JVM
    only, so a second process on the same fixture cannot collide with
    it (an on-disk DB is locked by the first JVM that boots it), two
    fixture dirs sharing a basename cannot alias, and nothing is left
    on disk. Embedded Derby is single-JVM — exactly right for local[n];
    a multi-executor cluster would use a networked store."""
    from ..io import fixture_slug, read_jdbc, write_jdbc

    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", tmp_location("derby_home")
    )
    url = f"jdbc:derby:memory:q05_{fixture_slug(sf_dir)};create=true"
    df = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    write_jdbc(df, url, "customer_q05", mode="overwrite", batch_size=1000)
    # MAX over an empty slice is NULL — a boundless 1 keeps the bounded
    # JDBC read valid (zero rows come back either way; empty-input walk)
    hi = df.agg(F.max("c_custkey")).first()[0] or 0
    back = read_jdbc(
        spark,
        url,
        "customer_q05",
        partition_column="c_custkey",
        lower_bound=0,
        upper_bound=int(hi) + 1,
        num_partitions=4,
        fetch_size=1000,
    )
    return back.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@query(
    "q93_source_csv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q93_source_csv(spark, sf_dir) -> DataFrame:
    """CSV source/sink round-trip with an explicit schema (inferSchema is
    banned in production paths — one full extra pass over the data and
    type drift across files)."""
    from ..schemas import NATION

    out = tmp_location(f"q93_csv_{os.path.basename(sf_dir)}")
    n = table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(NATION).option("header", True).csv(out)


@query(
    "q94_source_orc",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
    """,
)
def q94_source_orc(spark, sf_dir) -> DataFrame:
    """ORC source/sink round-trip — second columnar format, same pushdown
    and pruning machinery as Parquet."""
    out = tmp_location(f"q94_orc_{os.path.basename(sf_dir)}")
    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    p.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "q06_sink_report",
    oracle="""
    SELECT '<tr><td>' || c_name || '</td><td>' || c_mktsegment || '</td><td>'
           || CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '</td></tr>' AS row_html
    FROM (
        SELECT c_name, c_mktsegment, c_acctbal,
               row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn <= 10
    """,
)
def q06_sink_report(spark, sf_dir) -> DataFrame:
    """Row-wise formatted report rows (the reference renders query rows into
    an HTML <tr> table via Jinja, mercadolibre_pipeline_dag.py:96-127).
    The row HTML is built *inside* Spark (concat, JVM-side); only the
    top-10 result would ever be collected for delivery — see
    pipeline.render_report for the full-document assembly."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    top = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    # decimal-cast → string gives identical 2-dp rendering on both engines
    bal = F.col("c_acctbal").cast("decimal(18,2)").cast("string")
    return top.select(
        F.concat(
            F.lit("<tr><td>"), F.col("c_name"),
            F.lit("</td><td>"), F.col("c_mktsegment"),
            F.lit("</td><td>"), bal, F.lit("</td></tr>"),
        ).alias("row_html")
    )


@query(
    "q148_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS TIMESTAMP) AS o_orderdate
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q148_schema_evolution(spark, sf_dir) -> DataFrame:
    """Schema evolution on read (mergeSchema): a dataset whose early files
    carry (o_orderkey, o_totalprice) and later files add o_orderdate is
    read as ONE table with the union schema, old rows NULL-padded — the
    append-only column-add pattern every long-lived 100 TB dataset hits.
    mergeSchema reconciles the footers at planning time (per-file schema
    union, a driver-side metadata pass over footers — at large file counts
    you pin the schema explicitly instead); column pruning and pushdown
    still reach each file with its own physical schema. The oracle states
    the expected union semantics directly over the source table."""
    out = tmp_location(f"q148_evo_{os.path.basename(sf_dir)}")
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    v1.write.mode("overwrite").parquet(f"{out}/v=1")
    v2.write.mode("overwrite").parquet(f"{out}/v=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{out}/v=1", f"{out}/v=2"
    )
    return merged.select("o_orderkey", "o_totalprice", "o_orderdate")


@query(
    "q155_sink_dynamic_partition",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rewritten
    FROM documents GROUP BY source
    """,
)
def q155_sink_dynamic_partition(spark, sf_dir) -> DataFrame:
    """Partitioned sink with DYNAMIC partition overwrite — the daily-load
    pattern at scale: a full load lays the table out partitioned by
    source, a later job rewrites ONLY the partitions it produced (src0,
    src1 here, marked by negating n_chars) and every other partition's
    files are untouched. Static overwrite mode would have dropped them —
    the read-back count per source is the proof, and the oracle states
    the expected post-rewrite state. partitionBy(source) also gives
    source-pruned scans to every downstream per-source operator (q149,
    q154, q122)."""
    out = tmp_location(f"q155_dpo_{os.path.basename(sf_dir)}")
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("source").parquet(out)
    upd = d.filter(F.col("source").isin("src0", "src1")).withColumn(
        "n_chars", -F.col("n_chars")
    )
    # per-writer option: the session conf (which a concurrent query
    # could observe) is never touched
    upd.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("source").parquet(out)
    # explicit read schema: an empty source slice writes no files/partition
    # dirs and an inferring read fails (empty-input walk) — production
    # readers of partitioned sinks always know their schema
    back = spark.read.schema(d.schema).parquet(out)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < 0, 1).otherwise(0)).alias("n_rewritten"),
    )


@query(
    "q164_source_text",
    oracle="""
    SELECT text AS value,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
    """,
)
def q164_source_text(spark, sf_dir) -> DataFrame:
    """Text-format source/sink round-trip — the rawest ingestion format
    (one line = one record, single `value` column), which is what web
    crawl dumps and log shippers actually deliver before any schema
    exists. Written once from the documents fixture, read back with
    spark.read.text, and re-tokenized to prove content survives byte-
    exact. (Line-oriented formats require the no-embedded-newline
    invariant the fixture satisfies; real crawl pipelines escape or
    length-prefix instead.)"""
    out = tmp_location(f"q164_text_{os.path.basename(sf_dir)}")
    d = table(spark, sf_dir, "documents")
    d.select("text").write.mode("overwrite").text(out)
    return spark.read.text(out).select(
        "value",
        F.size(F.split("value", " ")).cast("long").alias("n_tok"),
    )


@query(
    "q167_source_xml",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q167_source_xml(spark, sf_dir) -> DataFrame:
    """Native XML source/sink round-trip (Spark 4 built-in, no external
    package): nation written as <row> elements and read back with an
    EXPLICIT schema — XML has no type system, so schema-on-read is
    mandatory (inference would re-scan and guess longs vs strings; same
    discipline as q93's CSV). The third row-oriented interchange format
    after CSV/JSON: what enterprise feeds and sitemap/feed crawls still
    deliver."""
    from ..schemas import NATION

    out = tmp_location(f"q167_xml_{os.path.basename(sf_dir)}")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        n.write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(out)
    )
    schema = T.StructType(
        [f for f in NATION.fields if f.name in
         ("n_nationkey", "n_name", "n_regionkey")]
    )
    return (
        spark.read.schema(schema)
        .option("rowTag", "nation")
        .format("xml")
        .load(out)
    )


@query(
    "q190_sink_jsonl",
    oracle="""
    SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q190_sink_jsonl(spark, sf_dir) -> DataFrame:
    """JSON-Lines sink/source round-trip — the delivery format training
    pipelines actually ship (one JSON object per line, splittable,
    append-friendly). Written partitioned by source (each domain its own
    shard directory, the layout data loaders shard-shuffle over) and
    read back with an EXPLICIT schema — JSONL carries no types, so
    schema-on-read is mandatory and numbers would otherwise widen or
    re-infer per file. Round-trip equality IS the check: text survives
    JSON escaping byte-exact."""
    out = tmp_location(f"q190_jsonl_{os.path.basename(sf_dir)}")
    d = table(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("source").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    # the partition column comes back from the directory layout, so it
    # joins the read schema explicitly
    return spark.read.schema(schema.add("source", T.StringType())).json(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


# ------------------------------------------------ Python Data Source API

try:  # Spark 4.x Python Data Source API
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _ApiReader(DataSourceReader):
        """Partitioned reader over a deterministic synthetic 'product API':
        each InputPartition owns a strided id range, so the fan-out the
        reference performs driver-side (one REST call per category,
        mercadolibre_pipeline_dag.py:44-45) runs ON EXECUTORS here — the
        Python Data Source API is how an HTTP/API extraction becomes a
        first-class parallel Spark scan instead of a driver loop."""

        def __init__(self, options):
            self.n = int(options.get("n", 10_000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            # Deterministic integer-derived rows (the hermetic stand-in for
            # the HTTP GET a real reader would issue per partition). Prices
            # are exact quarters so double arithmetic is engine-portable.
            for i in range(partition.value, self.n, self.parts):
                yield (i, i % 8, (i * 37 % 1000) / 4.0, i * 13 % 50)

    class ProductApiSource(DataSource):
        """spark.read.format("product_api") — registered per session in
        q221 via spark.dataSource.register."""

        @classmethod
        def name(cls):
            return "product_api"

        def schema(self):
            return "item_id BIGINT, category BIGINT, price DOUBLE, sold BIGINT"

        def reader(self, schema):
            return _ApiReader(self.options)

    _HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover - older pyspark
    _HAS_PY_DATASOURCE = False


@query(
    "q221_python_datasource",
    oracle="""
    SELECT i % 8 AS category,
           COUNT(*) AS n_items,
           CAST(SUM(CAST((i * 37 % 1000) / 4.0 * (i * 13 % 50) AS DECIMAL(28,4))) AS DOUBLE)
               AS revenue
    FROM range(0, 10000) t(i)
    GROUP BY i % 8
    """,
)
def q221_python_datasource(spark, sf_dir) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4.x): the
    reference's REST extraction re-expressed as a real pluggable source —
    `spark.read.format("product_api")` plans one task per InputPartition,
    each executor-side reader yields its strided slice, and everything
    downstream (pushdown aside) is an ordinary DataFrame. The revenue
    rollup on top proves rows flow through Catalyst like any scan.

    Scale shape: partitions() is the parallelism contract — a real API
    source returns one partition per page/shard/category so a 1000-task
    read saturates the cluster while the driver only lists partitions.
    The synthetic rows are integer-derived (prices are exact quarters),
    making the whole source reproducible cross-engine for the oracle."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise NotImplementedError("pyspark.sql.datasource requires Spark 4+")
    spark.dataSource.register(ProductApiSource)
    src = (
        spark.read.format("product_api")
        .option("n", 10_000)
        .option("parts", 8)
        .load()
    )
    from ..functions import dsum

    return src.groupBy("category").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("price") * F.col("sold")).alias("revenue"),
    )


@query(
    "q234_csv_permissive",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, FALSE AS corrupt FROM nation
    UNION ALL SELECT CAST(NULL AS INTEGER), 'BADLAND', 0, TRUE
    UNION ALL SELECT 99, 'TOOFEW', CAST(NULL AS INTEGER), TRUE
    UNION ALL SELECT 100, 'EXTRA', 3, TRUE
    """,
)
def q234_csv_permissive(spark, sf_dir) -> DataFrame:
    """Malformed-record tolerance (PERMISSIVE mode + corrupt-record
    column): an ingestion job must load the good rows AND surface the bad
    ones — never crash (FAILFAST) or silently drop (DROPMALFORMED). The
    staged landing dir gets three deliberately broken lines — a type
    mismatch, a short row, a long row — and the read must (a) best-effort
    parse every salvageable field (PERMISSIVE keeps 'BADLAND' even though
    its key is unparseable) and (b) stamp each bad line's RAW TEXT into
    _corrupt_record so a quarantine sink can reprocess it. The oracle
    states the exact triage the reader must produce. The corrupt column
    is projected to a boolean here; routing on it (good → table, bad →
    dead-letter path) is the q58 foreachBatch pattern."""
    import shutil

    out = tmp_location(f"q234_csv_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").csv(out)
    with open(os.path.join(out, "zz_bad.csv"), "w") as f:
        f.write("notanint,BADLAND,0\n")      # type mismatch -> key NULL
        f.write("99,TOOFEW\n")               # short row -> missing NULL
        f.write("100,EXTRA,3,surplus\n")     # long row -> surplus dropped
    schema = (
        T.StructType()  # nullable fields: corrupt rows carry NULL holes
        .add("n_nationkey", T.IntegerType())
        .add("n_name", T.StringType())
        .add("n_regionkey", T.IntegerType())
        .add("_corrupt_record", T.StringType())
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            F.col("_corrupt_record").isNotNull().alias("corrupt"),
        )
    )


@query(
    "q235_compact_small_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def q235_compact_small_files(spark, sf_dir) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every lakehouse
    runs (OPTIMIZE in Delta/Iceberg terms): a fragmented landing layout
    (here: deliberately written as 64 splinter files, the shape a
    per-micro-batch or per-task sink produces) is rewritten into files
    sized from the MEASURED input bytes against a target file size, with
    zstd compression for the long-lived copy. Small files poison 100 TB
    scans twice — one scheduler task + one footer read per file — so
    compaction trades one bounded rewrite for every future scan's
    planning cost.

    The repartition count derives from actual on-disk bytes (a driver-
    side listing of the directory being compacted — metadata, not data),
    clamped to ≥1; rows are preserved exactly, which is what the oracle
    checks (compaction is a permutation, and the hash compare is
    order-insensitive by design). test_ops_properties asserts the file
    count actually collapses."""
    import shutil

    frag = tmp_location(f"q235_frag_{os.path.basename(sf_dir)}")
    out = tmp_location(f"q235_compact_{os.path.basename(sf_dir)}")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    o = table(spark, sf_dir, "orders").select(*cols)
    o.repartition(64).write.mode("overwrite").parquet(frag)

    target_bytes = 128 * 1024 * 1024
    in_bytes = sum(
        e.stat().st_size
        for e in os.scandir(frag)
        if e.name.endswith(".parquet")
    )
    n_out = max(1, -(-in_bytes // target_bytes))  # ceil division
    shutil.rmtree(out, ignore_errors=True)
    (
        spark.read.parquet(frag)
        .repartition(n_out)
        .write.option("compression", "zstd")
        .parquet(out)
    )
    return spark.read.parquet(out)


@query(
    "q244_ddl_defaults",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS id, 'new' AS status,
           0.5 AS score
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT), n_name,
           1.0
    FROM nation
    """,
)
def q244_ddl_defaults(spark, sf_dir) -> DataFrame:
    """Catalog DDL + DML with column DEFAULTs: CREATE TABLE ... DEFAULT,
    a partial-column INSERT...SELECT that lets the engine fill the
    defaulted columns, and a full INSERT...SELECT — the managed-table
    write path (everything else in this engine goes through path-based
    reads/writes and temp views; warehouses live on CREATE/INSERT). The
    DEFAULT is bound at ANALYSIS time per statement — it backfills rows
    inserted without the column, it does not rewrite history when the
    default changes, which is why defaults beat post-hoc COALESCE
    repairs at 100 TB: no reread of old files.

    The table is declared with an explicit tmp LOCATION and the location
    is cleared first: the driver's own session may not configure a
    warehouse dir, and an external-table DROP keeps files — both
    rerun-safety hazards this query must own, not inherit."""
    loc = tmp_location(f"q244_tbl_{os.path.basename(sf_dir)}")
    recreate_table(
        spark,
        "t_q244",
        loc,
        f"""
        CREATE TABLE t_q244 (
            id BIGINT,
            status STRING DEFAULT 'new',
            score DOUBLE DEFAULT 0.5
        ) USING parquet LOCATION '{loc}'
        """,
    )
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_q244")
    spark.sql(
        "INSERT INTO t_q244 (id) SELECT CAST(n_nationkey AS BIGINT) FROM nation_q244"
    )
    spark.sql(
        """
        INSERT INTO t_q244
        SELECT CAST(n_nationkey + 100 AS BIGINT), n_name, 1.0
        FROM nation_q244
        """
    )
    return spark.table("t_q244")


@query(
    "q245_analyze_stats",
    oracle="""
    SELECT * FROM (VALUES
        ('id',     '0',    '124',  0, TRUE),
        ('score',  '0.5',  '1.0',  0, TRUE),
        ('status', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 0, TRUE)
    ) t(col_name, min_val, max_val, num_nulls, nd_within_tol)
    """,
)
def q245_analyze_stats(spark, sf_dir) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS — the statistics
    that feed cost-based optimization (join reordering, broadcast
    selection by size estimate, CBO cardinality math). Collected stats
    are read back via DESC EXTENDED <table> <col> and checked
    differentially: min/max/null-count are EXACT by definition and the
    oracle states them literally; distinct_count is an HLL estimate by
    design, so it gets the q23-style bounds check (within 15% of the
    true distinct count computed from the same table) rather than a
    hardcoded sketch artifact. At 100 TB, ANALYZE replaces Catalyst's
    size-only heuristics with real row counts — the difference between
    a broadcast decision made on bytes-on-disk and one made on
    cardinality — and column min/max feed range-predicate selectivity."""
    q244_ddl_defaults(spark, sf_dir)  # (re)build t_q244 deterministically
    spark.sql(
        "ANALYZE TABLE t_q244 COMPUTE STATISTICS FOR COLUMNS id, status, score"
    )
    t = spark.table("t_q244")
    per_col = []
    for col in ("id", "status", "score"):
        desc = (
            spark.sql(f"DESC EXTENDED t_q244 {col}")
            .groupBy()
            .pivot("info_name", ["min", "max", "num_nulls", "distinct_count"])
            .agg(F.first("info_value"))
        )
        exact_nd = t.agg(
            F.countDistinct(col).cast("double").alias("exact_nd")
        )
        per_col.append(
            desc.crossJoin(exact_nd).select(
                F.lit(col).alias("col_name"),
                # DESC renders absent stats as the literal string 'NULL'
                # (strings get no min/max) — map it back to SQL NULL
                F.expr("nullif(min, 'NULL')").alias("min_val"),
                F.expr("nullif(max, 'NULL')").alias("max_val"),
                F.col("num_nulls").cast("int").alias("num_nulls"),
                # empty table: ANALYZE records distinct_count 0 and the
                # exact count is 0 — vacuously in-tolerance, never an
                # ANSI zero-division abort (empty-input walk)
                F.when(
                    F.col("exact_nd") == 0,
                    F.col("distinct_count").cast("double") == 0,
                )
                .otherwise(
                    F.abs(
                        F.col("distinct_count").cast("double")
                        - F.col("exact_nd")
                    )
                    / F.col("exact_nd")
                    <= 0.15
                )
                .alias("nd_within_tol"),
            )
        )
    return reduce(DataFrame.unionByName, per_col)


@query(
    "q251_gzip_jsonl_source",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
)
def q251_gzip_jsonl_source(spark, sf_dir) -> DataFrame:
    """Gzip-compressed JSONL round trip — the wire format web-scale text
    corpora actually arrive in (Common Crawl WET/WARC derivatives ship
    as .gz shards): write the documents as gzip JSONL, read back with an
    explicit schema. Spark's text/JSON readers decompress by extension
    transparently, BUT gzip is a NON-SPLITTABLE codec — one .gz file is
    one task no matter its size, the classic ingestion bottleneck. The
    write therefore shards BEFORE compressing (repartition(4) → 4
    independently-parallel .gz parts), which is the operational fix:
    many medium gzip shards, never one giant one; re-compress to a
    splittable layout (parquet+zstd, q235) on first touch."""
    out = tmp_location(f"q251_gz_{os.path.basename(sf_dir)}")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    (
        d.repartition(4)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out)
    )
    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
    return spark.read.schema(schema).json(out)


@query(
    "q252_binary_file_source",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q252_binary_file_source(spark, sf_dir) -> DataFrame:
    """Whole-file binary ingestion (`format("binaryFile")`): each file
    becomes one row of (path, modificationTime, length, content) — the
    front door through which media assets enter the q248–q250 codec
    pipelines when they arrive as loose files rather than packed
    columns. The staged files hold each document's text bytes under a
    doc_id-derived name; the read recovers the id FROM THE PATH and
    fingerprints the content, and the oracle recomputes both from the
    source column — proving path parsing and byte fidelity end-to-end.
    modificationTime is projected away (wall-clock, unhashable by
    design). Scale notes: binaryFile caps at one row per file — pack
    small assets (tar/parquet) before reading at 100 TB, or the file
    listing itself becomes the bottleneck; maxPartitionBytes still
    groups small files per task."""
    import shutil

    out = memo_location("q252_files", sf_dir, "documents")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        for r in (
            table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        ):
            with open(os.path.join(out, f"doc_{r.doc_id}.txt"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        open(marker, "w").close()
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


def _untar_batches(batches):
    """mapInPandas: expand each tar shard's members into rows — the
    executor-side unpack that turns a 1-row-per-shard binaryFile read
    back into 1-row-per-asset, keeping extraction fully distributed."""
    import io
    import tarfile

    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "n_bytes": [], "content": []}
        for blob in pdf["content"]:
            with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                for m in tf.getmembers():
                    if not m.isfile():
                        continue
                    data = tf.extractfile(m).read()
                    out["doc_id"].append(
                        int(m.name.rsplit("_", 1)[1].split(".")[0])
                    )
                    out["n_bytes"].append(len(data))
                    out["content"].append(data)
        yield pd.DataFrame(out)


@query(
    "q253_tar_packed_assets",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q253_tar_packed_assets(spark, sf_dir) -> DataFrame:
    """Packed-asset ingestion — the FIX q252's docstring prescribes for
    loose small files (and the shape WebDataset standardized for
    training corpora): assets are bundled into a few tar shards, the
    scan reads ONE row per shard (binaryFile — the file listing is now
    8 entries, not one per asset), and an executor-side mapInPandas
    unpacks members back into per-asset rows. Listing cost, scheduler
    task count, and open()-per-file overhead all collapse by the
    packing factor while the downstream per-asset schema is unchanged —
    byte fidelity proven by the same md5 oracle as q252. Shard assembly
    is stdlib tarfile; at 100 TB the shards are written once by the
    packing job and every epoch reads them sequentially."""
    import io
    import shutil
    import tarfile

    out = memo_location("q253_tars", sf_dir, "documents")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        rows = (
            table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        )
        n_shards = 8
        shards = [io.BytesIO() for _ in range(n_shards)]
        tars = [tarfile.open(fileobj=b, mode="w") for b in shards]
        for r in rows:
            data = r.text.encode("utf-8")
            info = tarfile.TarInfo(name=f"doc_{r.doc_id}.txt")
            info.size = len(data)
            tars[r.doc_id % n_shards].addfile(info, io.BytesIO(data))
        for i, (t, b) in enumerate(zip(tars, shards)):
            t.close()
            with open(os.path.join(out, f"shard_{i:02d}.tar"), "wb") as f:
                f.write(b.getvalue())
        open(marker, "w").close()
    shard_rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(out)
        .select("content")
    )
    unpacked = shard_rows.mapInPandas(
        _untar_batches, "doc_id long, n_bytes long, content binary"
    )
    return unpacked.select(
        "doc_id", "n_bytes", F.md5("content").alias("content_md5")
    )


@query(
    "q254_multiline_json",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q254_multiline_json(spark, sf_dir) -> DataFrame:
    """Multi-line JSON ingestion (`multiLine=true`): one file holding one
    big JSON ARRAY — the shape REST API dumps and exports actually
    arrive in (the reference's category payload is exactly this,
    mercadolibre_pipeline_dag.py:23), as opposed to the line-delimited
    JSONL Spark prefers (q190/q251). multiLine is the non-splittable
    slow path: the whole document must parse as one unit, so one file =
    one task regardless of size — land it once, convert to JSONL or
    parquet, never scan it repeatedly (the same playbook as q251's
    gzip). The staged file is built from the nation table and read back
    with an explicit schema; round trip proven by the plain oracle."""
    import json
    import shutil

    out = tmp_location(f"q254_mljson_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rows = [
        {"n_nationkey": r.n_nationkey, "n_name": r.n_name, "n_regionkey": r.n_regionkey}
        for r in table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    ]
    with open(os.path.join(out, "dump.json"), "w") as f:
        json.dump(rows, f, indent=2)  # pretty-printed: spans many lines
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return spark.read.schema(schema).option("multiLine", True).json(out)


@query(
    "q255_csv_quoting",
    oracle="""
    SELECT n_nationkey,
           n_name || ', officially "' || n_name || '"' || chr(10) || 'line2'
               AS gnarly,
           n_regionkey
    FROM nation
    """,
)
def q255_csv_quoting(spark, sf_dir) -> DataFrame:
    """CSV quoting torture round trip: field values containing the
    delimiter, embedded double quotes, AND a literal newline — the
    trifecta that breaks naive split-on-comma parsers and half the
    world's ad-hoc CSV writers. Spark's writer quotes and doubles-up
    per RFC 4180; the reader must reassemble the multi-line record
    (multiLine=true — quoted newlines make CSV non-splittable, same
    operational caveat as q254). The gnarly value is constructed from
    the source column by the SAME expression the oracle uses, so the
    round trip is verified byte-for-byte; a parser that mangles any of
    the three hazards changes the hash."""
    out = tmp_location(f"q255_csvq_{os.path.basename(sf_dir)}")
    gnarly = F.concat(
        F.col("n_name"),
        F.lit(', officially "'),
        F.col("n_name"),
        F.lit('"\nline2'),
    )
    d = table(spark, sf_dir, "nation").select(
        "n_nationkey", gnarly.alias("gnarly"), "n_regionkey"
    )
    d.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    schema = "n_nationkey INT, gnarly STRING, n_regionkey INT"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )


def _unzip_batches(batches):
    """mapInPandas: expand each ZIP shard's members into rows (q253's
    untar twin) — the central directory is parsed executor-side, and
    per-member CRC32s are verified on read (ZipFile.read checks them),
    so shard corruption surfaces as an error, not silent truncation."""
    import io
    import zipfile

    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "n_bytes": [], "content": []}
        for blob in pdf["content"]:
            with zipfile.ZipFile(io.BytesIO(bytes(blob))) as zf:
                for name in zf.namelist():
                    data = zf.read(name)
                    out["doc_id"].append(
                        int(name.rsplit("_", 1)[1].split(".")[0])
                    )
                    out["n_bytes"].append(len(data))
                    out["content"].append(data)
        yield pd.DataFrame(out)


@query(
    "q291_zip_packed_assets",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q291_zip_packed_assets(spark, sf_dir) -> DataFrame:
    """ZIP-shard ingestion — q253's tar path for the OTHER archive
    format scraped corpora arrive in. ZIP differs from tar in ways that
    matter operationally and are exercised here: members are DEFLATE-
    compressed individually (a member is seekable without inflating the
    whole shard — tar.gz can't do that), the CENTRAL DIRECTORY at the
    shard's tail is the member index (listing needs the tail, not a
    full scan), and every member carries a CRC32 the stdlib verifies on
    read — so corruption fails loudly. Same scale story as q253: 8
    shards = 8 listing entries, executor-side unpack via mapInPandas,
    byte fidelity proven by the same md5 oracle. n_bytes counts UTF-8
    OCTETS on both sides (len of the encoded member here,
    octet_length(encode(..)) in the oracle — the explicit-bytes idiom;
    note DuckDB strlen() is itself byte-based (ADVICE r6), the idiom
    exists so the unit can't be misread, and the truly char-based
    length() stays linted out of byte aliases). Shards are staged
    write-once under the full-path + source-stamp key (the q252
    staleness discipline)."""
    import io
    import shutil
    import zipfile

    out = memo_location("q291_zips", sf_dir, "documents")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        rows = (
            table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        )
        n_shards = 8
        bufs = [io.BytesIO() for _ in range(n_shards)]
        zips = [
            zipfile.ZipFile(b, "w", compression=zipfile.ZIP_DEFLATED)
            for b in bufs
        ]
        for r in rows:
            zips[r.doc_id % n_shards].writestr(
                f"doc_{r.doc_id}.txt", r.text.encode("utf-8")
            )
        for i, (z, b) in enumerate(zip(zips, bufs)):
            z.close()
            with open(os.path.join(out, f"shard_{i:02d}.zip"), "wb") as f:
                f.write(b.getvalue())
        open(marker, "w").close()
    shard_rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(out)
        .select("content")
    )
    unpacked = shard_rows.mapInPandas(
        _unzip_batches, "doc_id long, n_bytes long, content binary"
    )
    return unpacked.select(
        "doc_id", "n_bytes", F.md5("content").alias("content_md5")
    )
