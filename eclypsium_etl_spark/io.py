"""Sources and sinks.

The reference's IO surface (SURVEY.md §2.1): JSON-over-HTTP extraction,
a full-replace PostgreSQL sink, and an HTML report sink. Spark-first
equivalents: schema'd file sources with pushdown, idempotent
``mode("overwrite")`` writes, JDBC read/write wrappers, and a small-result
report renderer.

At 100 TB the scan is everything: always read Parquet through
``spark.read.parquet`` (vectorized reader, predicate pushdown, column
pruning), partition output by a low-cardinality key when the downstream
access pattern filters on it, and never infer schemas in production paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .schemas import TABLES


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (q01). Plain parquet scan: Catalyst handles
    predicate pushdown and column pruning for whatever is layered on top.

    Timestamp note: the fixture's physical timestamp encoding has CHANGED
    across generations — TIMESTAMP(NANOS) (rounds 1-2) vs TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (round 3) — so normalization is adaptive on the
    READ dtype, not hardcoded:
      - nanos: Spark's reader rejects ns timestamps; read nanos-as-long
        (runtime conf, safe on any session) and truncate to µs — exactly
        DuckDB's ns→µs truncation, so oracle parity holds;
      - naive micros: Spark infers TIMESTAMP_NTZ; cast to TIMESTAMP (LTZ).
        Under the engine's pinned UTC session timezone the instant is
        unchanged, and every downstream consumer (epoch casts, range
        frames, streaming event time) sees the same LTZ type rounds 1-2
        produced.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = TABLES.get(name)
    if expected is not None:
        actual = dict(df.dtypes)
        for field in expected.fields:
            if isinstance(field.dataType, T.TimestampType):
                if actual.get(field.name) == "bigint":
                    df = df.withColumn(
                        field.name,
                        F.timestamp_micros(F.expr(f"{field.name} div 1000")),
                    )
                elif actual.get(field.name) == "timestamp_ntz":
                    df = df.withColumn(
                        field.name, F.col(field.name).cast("timestamp")
                    )
    return df


# (path) -> (rows, read units); a parquet layout is immutable once written
# (fixtures are read-only, memos are write-once), so the footer walk is
# paid once per process per path.
_LAYOUT_UNITS_CACHE: dict[str, tuple[int, int]] = {}


# Sentinel for "layout unknown — treat as healthy": spread() is an
# optimization guard, never a correctness dependency, so anything the
# local footer walk cannot see (remote URIs, unreadable footers, a
# not-yet-written directory) must fail OPEN (no-op) instead of raising
# at plan-build time (VERDICT r13 #4 / ADVICE r13).
_UNKNOWN_LAYOUT = (-1, 1 << 30)


def scan_units(path: str) -> tuple[int, int]:
    """(rows, parallel read units) of a parquet file or directory.

    A parquet ROW GROUP is the minimum unit a scan task can read — Spark
    can plan any number of byte-range splits, but splits that contain no
    row-group midpoint produce empty tasks, so the achievable scan
    parallelism is the total row-group count, not the split count. The
    footer walk is driver-side metadata only (no data pages) and is
    skipped entirely when the directory already has more files than any
    local box has cores (each file is ≥ 1 unit).

    Fail-open contract: a path this process cannot inspect locally — a
    remote URI (s3://, hdfs://, ...), a corrupt/unreadable footer, an
    empty or not-yet-written directory — reports ``_UNKNOWN_LAYOUT``
    (units ≥ any core count, rows unknown), which makes :func:`spread` a
    no-op. Unknown/empty results are NOT cached: a write-once memo
    directory that is empty now may be populated later."""
    import glob
    import os

    cached = _LAYOUT_UNITS_CACHE.get(path)
    if cached is not None:
        return cached
    # Remote/scheme'd URIs: the local isdir/glob/footer walk below would
    # misread them (isdir False -> "one file" -> ParquetFile raises at
    # plan-build time, crashing the query exactly at the scale the guard
    # exists for). Anything that is not a local file or directory is
    # reported unknown-healthy without touching the filesystem.
    if not (os.path.isdir(path) or os.path.isfile(path)):
        return _UNKNOWN_LAYOUT
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:  # empty/not-yet-written dir: unknown, and never cached
        return _UNKNOWN_LAYOUT
    if len(files) >= 256:  # plainly healthy: never read footers at scale
        result = (-1, len(files))
    else:
        import pyarrow.parquet as pq

        rows = units = 0
        try:
            for f in files:
                md = pq.ParquetFile(f).metadata
                rows += md.num_rows
                units += md.num_row_groups
        except Exception:  # corrupt/unreadable footer: fail open, no cache
            return _UNKNOWN_LAYOUT
        result = (rows, units)
    _LAYOUT_UNITS_CACHE[path] = result
    return result


def spread(
    df: DataFrame,
    path: str,
    *keys: str,
    min_rows: int | None = None,
) -> DataFrame:
    """Input-skew guard (optimization guide §2.5: "one huge unsplittable
    file ... repartition immediately after the read"): redistribute a
    scan whose physical layout offers fewer parallel read units than the
    session has cores, so heavy per-row work after the scan uses the
    whole box instead of one task per row group.

    Strictly layout-gated — this is a no-op (zero plan change, zero
    extra exchange) whenever the layout already splits to core width,
    which is every healthy production table; it only fires on layouts
    like the local fixtures (single-file, SINGLE-ROW-GROUP parquet: the
    whole 600k-row lineitem scan is one task at local[32] no matter what
    maxPartitionBytes says). Row floor: a shuffle of fewer than
    ``min_rows`` rows (default 4x cores) can't pay for itself.

    ``keys``: deterministic repartition keys (a high-cardinality column
    such as doc_id). PREFER keys: the keyless round-robin path — while
    also deterministic under Spark's sort-before-repartition default
    (SPARK-23207), which retries rely on — pays that defensive sort
    INSIDE the single scan task this guard exists to relieve (measured
    on q21: 1.4-2.1 s round-robin vs 0.8 s hash-keyed). Every current
    caller passes a key.

    Correctness posture: repartitioning never changes WHAT a query
    computes, only the partition assignment; every caller must be (and
    is) order-insensitive downstream — aggregates here are either
    integer/count kernels or the decimal-exact sums of functions.py,
    and window/sort consumers re-establish their own order."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    rows, units = scan_units(path)
    if units >= cores:
        return df
    if rows < 0:
        # unknown row count (the ≥256-file fast path on a >256-core box):
        # 256+ read units almost certainly suffice, and without a row
        # count the min_rows floor can't be applied — skip (ADVICE r13)
        return df
    if rows < (min_rows if min_rows is not None else 4 * cores):
        return df
    return df.repartition(cores, *[F.col(k) for k in keys]) if keys else (
        df.repartition(cores)
    )


def table_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """:func:`table` + :func:`spread` for fixture tables whose consumer
    does heavy per-row work before its first exchange."""
    return spread(table(spark, sf_dir, name), f"{sf_dir}/{name}.parquet", *keys)


def source_stamp(path: str) -> str:
    """Freshness stamp for a memoized derivation of ``path``: mtime+size of
    the source file, embedded in the memo's directory name so a regenerated
    fixture can never be served a stale intermediate (the cross-process
    memo below outlives the process that built it)."""
    import os

    st = os.stat(path)
    return f"{int(st.st_mtime)}_{st.st_size}"


def fixture_suffix(sf_dir: str) -> str:
    """Catalog-safe per-fixture suffix for managed table names and
    locations: the sanitized fixture basename PLUS a short hash of the
    RAW basename, so sanitization collisions ('sf0.1' vs 'sf0_1') can
    never alias two fixtures' tables (ADVICE r12, the q351 rule)."""
    import hashlib
    import os
    import re

    raw = os.path.basename(sf_dir)
    return (
        f"{re.sub(r'[^A-Za-z0-9_]', '_', raw)}"
        f"_{hashlib.sha1(raw.encode()).hexdigest()[:8]}"
    )


def tmp_location(name: str) -> str:
    """``name`` under the engine's shared temp dir, which is created on
    first use: memo layouts, staged sinks and managed-table LOCATIONs."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "eclypsium_etl_spark")
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


def fixture_slug(sf_dir: str) -> str:
    """The FULL fixture path as one name component: two data dirs that
    share a basename must never alias each other's scratch state."""
    return sf_dir.strip("/").replace("/", "_")


def memo_location(tag: str, sf_dir: str, table: str) -> str:
    """Write-once memo path for a derivation of fixture ``table``: ``tag``
    (the derivation plus every constant that shapes the landed bytes), the
    :func:`fixture_slug` and the :func:`source_stamp` of the table's
    parquet, so a regenerated fixture is never served a stale memo."""
    stamp = source_stamp(f"{sf_dir}/{table}.parquet")
    return tmp_location(f"{tag}_{fixture_slug(sf_dir)}_{stamp}")


def recreate_table(spark: SparkSession, name: str, loc: str, ddl: str) -> None:
    """Rebuild catalog table ``name`` from scratch: clear its files at
    ``loc``, drop it, then run ``ddl`` (the CREATE TABLE ... LOCATION
    ``loc`` statement). A DROP keeps an external table's files, so the
    location is cleared first or a rerun would read the last run's rows."""
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(ddl)


def _commit_dir(tmp: str, out: str, is_complete) -> None:
    """Atomically install the COMPLETE build at ``tmp`` as ``out``.

    Fast path: plain ``os.rename`` (fails if ``out`` already exists). Slow
    path (rename failed): either another process committed a complete
    layout first — keep theirs, discard ours — or a crashed writer left an
    incomplete directory that must be replaced. The replace is serialized
    through an O_EXCL lockfile and the completeness predicate is
    re-checked UNDER the lock, so two processes taking the crashed-writer
    branch can never both rmtree (previously the second rmtree could
    delete the first's just-committed layout while its lazily-evaluated
    scans still referenced the files). The stale directory is renamed
    aside before deletion so the install itself stays atomic.

    ``is_complete()`` decides whether the current ``out`` is a finished,
    usable layout (at minimum: the _SUCCESS marker written last).

    The fast path defers to the lock: while a replace is in flight it
    must not install into the window between the lock holder's
    rename-aside and its own install (the holder's rename would then
    fail, or — worse — a completeness check raced microseconds earlier
    would let the holder discard a complete, possibly-being-read build).
    The holder's install rename is additionally wrapped so that if a
    racer's complete build does land first (the residual pre-lock-check
    window), the holder keeps the racer's build instead of raising."""
    import os
    import shutil
    import time
    import uuid

    lock = out + ".replace-lock"
    try:
        if not os.path.exists(lock):
            os.rename(tmp, out)
            return
    except OSError:
        pass
    if is_complete():
        # raced: another process completed `out` first — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        return
    deadline = time.time() + 300.0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            break
        except FileExistsError:
            if is_complete():
                # the lock holder committed a complete build — use it
                shutil.rmtree(tmp, ignore_errors=True)
                return
            if time.time() > deadline:
                raise TimeoutError(
                    f"stale replace lock (remove manually if no writer is "
                    f"alive): {lock}"
                )
            time.sleep(0.05)
    try:
        if is_complete():
            shutil.rmtree(tmp, ignore_errors=True)
            return
        if os.path.exists(out):
            # incomplete leftover: move it aside atomically, then delete
            trash = f"{out}.stale-{uuid.uuid4().hex[:8]}"
            os.rename(out, trash)
            shutil.rmtree(trash, ignore_errors=True)
        try:
            os.rename(tmp, out)
        except OSError:
            if is_complete():
                # a pre-lock-check fast-path racer installed a complete
                # build between our rename-aside and install: keep theirs
                shutil.rmtree(tmp, ignore_errors=True)
                return
            raise
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def materialize_once(
    spark: SparkSession, out: str, write_fn, schema=None
) -> DataFrame:
    """Write-once shared parquet intermediate (the memo discipline behind
    llm/dedup.shingles() and the q86 partitioned layout).

    Cross-process safe: a COMPLETE output is detected via the _SUCCESS
    marker (written last by the commit protocol), and builds go to a
    per-process unique temp path that is atomically renamed into place —
    so a second process can never delete or overwrite files a first
    process's lazy DataFrame is still reading (the old mode("overwrite")
    memo could). Losing the rename race just means another process
    finished first; our build is discarded and theirs is read. The
    crashed-writer replace path is lockfile-serialized in
    :func:`_commit_dir`.

    ``write_fn(path)`` must write the parquet dataset at ``path``.

    ``schema``: optional explicit read schema — REQUIRED for layouts
    that can legitimately be EMPTY (a partitionBy write of zero rows
    leaves no data files and no partition directories, so schema
    inference fails with UNABLE_TO_INFER_SCHEMA; the empty-input walk's
    finding, and this module's own header rule: never infer schemas in
    production paths)."""
    import os
    import uuid

    def _read():
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(out)

    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return _read()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    _commit_dir(tmp, out, lambda: os.path.exists(done))
    return _read()


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON document source (q02 analog of requests.get+json.loads,
    mercadolibre_pipeline_dag.py:20-33). Schema mandatory in spirit:
    pass one, or accept inference only in exploratory code."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def sink_overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Idempotent full-replace sink (q04) — the Spark equivalent of the
    reference's ``to_sql(..., if_exists="replace")``
    (mercadolibre_pipeline_dag.py:65). Overwrite mode gives the same
    rerun-safety contract; partitioning enables partition pruning for
    downstream readers at scale."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame, name: str, bucket_col: str, num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed table sink: co-locates rows by hash(bucket_col) at WRITE
    time so later joins/aggregations on that key skip the shuffle entirely
    — the biggest single lever for repeated 100 TB fact⋈fact joins.
    Registers `name` in the session catalog (parquet data source table).

    Self-cleaning: the in-memory catalog forgets tables across sessions but
    their warehouse directories persist — drop both before writing or
    saveAsTable fails with LOCATION_ALREADY_EXISTS."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    warehouse = warehouse.removeprefix("file://").removeprefix("file:")
    # the catalog lowercases table names — clean the dir it actually uses
    shutil.rmtree(f"{warehouse}/{name.lower()}", ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, bucket_col
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def ensure_bucketed(
    df: DataFrame, name: str, bucket_col: str, num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Cross-process-safe, write-ONCE variant of :func:`write_bucketed`
    for stamped table names whose content is a pure function of the name
    (bucketed_orders_customer's source-stamped layouts).

    write_bucketed's drop+rmtree+saveAsTable is overwrite-in-place: a
    second process hitting the same name mid-build can interleave so the
    table directory ends up with TWO complete file sets — every row
    twice (observed once in a concurrent two-walk run, q161 reading
    exactly 2× per group). This variant applies materialize_once's
    commit protocol to the bucketed layout: build as an EXTERNAL table
    at a per-process unique path (DROP then leaves the files), atomic-
    rename into the canonical warehouse location with _SUCCESS as the
    completeness marker, losers discard their build; if the marker is
    already present the write is skipped entirely (each process then
    only pays catalog registration). Registration declares the bucket
    spec via CREATE TABLE ... CLUSTERED BY ... LOCATION, so the
    zero-exchange join property is preserved (plan-asserted in
    test_plan_shapes).

    The LAYOUT spec (bucket_col, num_buckets, sort_col) is persisted as
    a _BUCKET_SPEC manifest written with the data and verified before any
    skip: registering N-bucket metadata over data physically hashed mod M
    would make Spark trust HashPartitioning(key, N) it doesn't have and
    silently drop join matches. A caller passing a different spec for an
    existing stamped layout therefore raises (re-bucketing needs a new
    name — fold the new bucket count into the stamp); a layout with no
    manifest is treated as incomplete and rebuilt."""
    import json
    import os
    import uuid

    spark = df.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    warehouse = warehouse.removeprefix("file://").removeprefix("file:")
    final_dir = os.path.join(warehouse, name.lower())
    done = os.path.join(final_dir, "_SUCCESS")
    spec = {
        "bucket_col": bucket_col,
        "num_buckets": num_buckets,
        "sort_col": sort_col,
    }
    spec_path = os.path.join(final_dir, "_BUCKET_SPEC")

    def _read_spec():
        try:
            with open(spec_path) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def _is_complete():
        return os.path.exists(done) and _read_spec() == spec

    if os.path.exists(done):
        existing = _read_spec()
        if existing is not None and existing != spec:
            raise ValueError(
                f"bucketed layout {name!r} exists with spec {existing}, "
                f"requested {spec}: stamped layouts are write-once — use a "
                f"name that encodes the new bucket spec instead"
            )
    if not _is_complete():
        tmp_name = f"{name}_bld_{uuid.uuid4().hex[:8]}"
        tmp_path = os.path.join(warehouse, tmp_name.lower())
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", tmp_path)  # external: DROP keeps the files
            .bucketBy(num_buckets, bucket_col)
        )
        if sort_col:
            writer = writer.sortBy(sort_col)
        writer.saveAsTable(tmp_name)
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        with open(os.path.join(tmp_path, "_BUCKET_SPEC"), "w") as fh:
            json.dump(spec, fh)
        _commit_dir(tmp_path, final_dir, _is_complete)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    sort_clause = f"SORTED BY ({sort_col}) " if sort_col else ""
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING parquet "
        f"CLUSTERED BY ({bucket_col}) {sort_clause}"
        f"INTO {num_buckets} BUCKETS LOCATION '{final_dir}'"
    )


def jdbc_options(
    url: str,
    dbtable: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetch_size: int | None = None,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Build the JDBC option map (pure, unit-testable without a DB).

    Parallel reads require all three partition bounds; passing a partition
    column without bounds is a config error Spark would only surface at
    load() time against a live DB, so it's validated here."""
    opts: dict[str, str] = {"url": url, "dbtable": dbtable}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions or 8),
        )
    if fetch_size is not None:
        opts["fetchsize"] = str(fetch_size)
    opts.update(properties or {})
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    dbtable: str,
    **kwargs,
) -> DataFrame:
    """JDBC source (q05; reference reads Postgres via SQLAlchemy,
    mercadolibre_pipeline_dag.py:71-75). Parallel reads require the
    partition bounds — a single-connection JDBC read is a driver bottleneck
    at any real scale, so callers must think about them. Predicates on the
    partition column are pushed into each partition's generated WHERE
    clause by the JDBC source."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_options(url, dbtable, **kwargs).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, dbtable: str, mode: str = "overwrite",
    batch_size: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink (q05 write side, reference's to_sql replace, :65).
    ``mode="overwrite"`` is the full-replace contract; batch_size maps to
    the JDBC batchsize option (rows per INSERT round-trip per task)."""
    props = dict(properties or {})
    if batch_size is not None:
        props["batchsize"] = str(batch_size)
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_options(url, dbtable, properties=props).items():
        writer = writer.option(k, v)
    writer.save()


def fetch_to_landing(
    urls: dict[str, str],
    dest_dir: str,
    timeout: float = 30.0,
    allowed_schemes: tuple[str, ...] = ("http", "https"),
) -> dict[str, str]:
    """HTTP landing-zone extraction (reference's EP1 REST fan-out,
    mercadolibre_pipeline_dag.py:18-45): fetch each named URL and stage the
    raw payload as a file in ``dest_dir``, returning name → staged path.
    The staged directory then feeds ``pipeline.extract_products`` as an
    ordinary schema'd JSON read.

    Driver-side on purpose: the fetch list is small (one URL per category,
    reference :44); the heavy lifting — parse/explode/join — happens in the
    distributed read that follows. For large URL fans, distribute with a
    mapInPandas over a URL DataFrame instead.

    Input validation: names become filenames, so anything that could
    escape dest_dir (separators, traversal, empties) is rejected; URL
    schemes are restricted to http(s) by default — urlopen would otherwise
    happily fetch file:// or ftp:// targets. Hermetic tests that stage
    local fixtures opt in explicitly with allowed_schemes=("file",)."""
    import os
    import re
    import urllib.parse
    import urllib.request

    os.makedirs(dest_dir, exist_ok=True)
    staged: dict[str, str] = {}
    for name, url in urls.items():
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name.startswith("."):
            raise ValueError(f"unsafe landing name: {name!r}")
        scheme = urllib.parse.urlparse(url).scheme.lower()
        if scheme not in allowed_schemes:
            raise ValueError(f"unsupported URL scheme {scheme!r} for {name}")
        path = os.path.join(dest_dir, f"{name}.json")
        # explicit timeout: the default (None) blocks the driver forever on
        # a server that accepts the connection but never responds
        with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
            payload = resp.read()
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, path)  # atomic: readers never see partial payloads
        staged[name] = path
    return staged
