"""Differential-test harness: Spark result vs DuckDB oracle.

Emulates the grading driver: its SparkSession (``driver_session``), its
oracle setup (``oracle_con``: one DuckDB view per fixture table), its
correctness gate (``compare``: row count + column names +
order-insensitive value comparison) and its walk over the registry
(``walk``), so every registered query is verified locally before the
driver ever sees it. The scripts, the tests and the benchmark all import
this one module.
"""

from __future__ import annotations

import math
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from eclypsium_etl_spark.schemas import TABLES


def _norm_cell(v):
    """Canonicalize one cell so identical logical values compare equal
    across engines/dtypes."""
    if v is None:
        return "\x00null"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "\x00nan"
        return repr(f)  # shortest round-trip: identical doubles → identical repr
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "\x00null"
        return v.isoformat()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    if v is pd.NaT:
        return "\x00null"
    try:
        if pd.isna(v):
            return "\x00null"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return sorted(
        tuple(_norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def compare(spark_df, duck_con, sql: str) -> tuple[bool, str]:
    """Run both sides, compare like the driver does. Returns (ok, detail)."""
    spdf = spark_df.toPandas()
    dpdf = duck_con.execute(sql).fetchdf()
    if len(spdf) != len(dpdf):
        return False, f"row count: spark={len(spdf)} duckdb={len(dpdf)}"
    s_cols, d_cols = sorted(spdf.columns), sorted(dpdf.columns)
    if s_cols != d_cols:
        return False, f"columns: spark={s_cols} duckdb={d_cols}"
    s_rows, d_rows = canonical_rows(spdf), canonical_rows(dpdf)
    if s_rows != d_rows:
        mism = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:3]
        return False, f"values differ; first mismatches (spark vs duckdb): {mism}"
    return True, f"ok ({len(spdf)} rows)"


def driver_session(cores: int = 8, plain: bool = False):
    """The grading driver's own SparkSession, not ``session.get_spark``:
    local[cores] with shuffle partitions = cores and a UTC session
    timezone. ``plain`` keeps only the UI switches — a fully DEFAULT
    session (local[*], shuffle=200, host timezone), the harshest
    approximation of an unknown driver config."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[*]" if plain else f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not plain:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(cores)
        ).config("spark.sql.session.timeZone", "UTC")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """The driver's oracle setup: each fixture table registered as a
    DuckDB view over the same parquet files Spark reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def walk(spark, sf_dir: str, queries, oracles, names=None) -> dict[str, dict]:
    """Run ``names`` (default: all of ``queries``, in its order) at
    ``sf_dir``: each oracled query through ``compare``, each no-oracle
    query to a count (it must run). Prints one line per query and returns
    ``{"_sf_dir": {ok, detail}, name: {ok, detail, sec}}``; an exception
    is recorded as a failed row, not raised."""
    results: dict[str, dict] = {"_sf_dir": {"ok": True, "detail": sf_dir}}
    with oracle_con(sf_dir) as con:
        for name in queries if names is None else names:
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                if name in oracles:
                    ok, detail = compare(df, con, oracles[name])
                else:
                    ok, detail = True, f"no-oracle ({df.count()} rows)"
            except Exception as exc:  # noqa: BLE001 - recorded, not raised
                ok, detail = False, f"{type(exc).__name__}: {exc}"
            sec = round(time.perf_counter() - t0, 1)
            results[name] = {"ok": ok, "detail": detail[:500], "sec": sec}
            print(f"{'OK  ' if ok else 'FAIL'} {name} ({sec}s)"
                  + ("" if ok else f" {detail[:300]}"), flush=True)
    return results
