"""Query + oracle registry.

Every operator from SURVEY.md §2 registers itself here via the ``@query``
decorator: a name, a ``(spark, sf_dir) -> DataFrame`` callable, and
(usually) the equivalent ANSI SQL that DuckDB runs on the same parquet for
differential testing. ``__spark_entry__.py`` and the test suite both read
from this single registry, so a query is "done" exactly when it is
registered and parity-green.

Float-parity discipline (SURVEY.md §5.2) lives next to the queries that
need it; the one global trick worth naming: sums of doubles are computed
as ``SUM(CAST(x AS DECIMAL(28,4)))`` cast back to double on BOTH engines —
decimal addition is exact and order-independent, so the result is
bit-identical regardless of partitioning/summation order. Corollary
(q282, found by the sf0.1 cross-scale walk): a ``round()`` whose input
can be a tiny negative may print IEEE −0.0 on one engine and 0.0 on the
other — normalize with ``+ 0.0`` on BOTH sides when zero is reachable
from below.

Result-schema discipline: oracled queries return ONLY scalar top-level
columns (arrays/maps/structs serialize in-plan via array_join/to_json,
mirrored in the oracle) — enforced by
tests/test_oracle_lint.py::test_oracled_results_are_driver_hashable.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

_MODULES = [
    "eclypsium_etl_spark.operators.sources",
    "eclypsium_etl_spark.operators.projections",
    "eclypsium_etl_spark.operators.joins",
    "eclypsium_etl_spark.operators.aggregates",
    "eclypsium_etl_spark.operators.windows",
    "eclypsium_etl_spark.operators.sorts",
    "eclypsium_etl_spark.operators.setops",
    "eclypsium_etl_spark.operators.scalar",
    "eclypsium_etl_spark.operators.udfs",
    "eclypsium_etl_spark.operators.advanced",
    "eclypsium_etl_spark.operators.timeseries",
    "eclypsium_etl_spark.operators.breadth",
    "eclypsium_etl_spark.operators.incremental",
    "eclypsium_etl_spark.operators.expressions",
    "eclypsium_etl_spark.operators.statistics",
    "eclypsium_etl_spark.pipeline",
    "eclypsium_etl_spark.streaming.queries",
    "eclypsium_etl_spark.streaming.advanced_queries",
    "eclypsium_etl_spark.llm.dedup",
    "eclypsium_etl_spark.llm.prep",
    "eclypsium_etl_spark.llm.clustering",
    "eclypsium_etl_spark.llm.similarity",
    "eclypsium_etl_spark.llm.text",
    "eclypsium_etl_spark.llm.multimodal",
]

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


def load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every operator module (idempotent) and return the registry."""
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            import_module(mod)
        _loaded = True
    return QUERIES, ORACLE


def _driver_rows(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """id -> (latest sampled round, latest outcome). Outcome True = clean
    row: full rows+schema+hash match, or the declared rows-only contract
    for no-oracle queries. Reads the driver-written CORRECTNESS_r*.json
    in the repo root; an id absent from every file has never been
    sampled. Best-effort: unreadable files are skipped, so a missing or
    malformed evidence set degrades to registration order."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, tuple[int, bool]] = {}

    def _round_of(path: str) -> int:
        # parsed round number, not filename order: lexicographic sorting
        # would put an unpadded r10 before r2..r9 (ADVICE r5)
        m = re.search(r"r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else 0

    for path in sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_of
    ):
        rnd = _round_of(path)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                ok = row.get("spark_rows") is not None
            else:
                ok = bool(
                    not row.get("err")
                    and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                )
            out[name] = (rnd, ok)
    return out


def _driver_evidence(root: str | None = None) -> dict[str, bool]:
    """id -> latest driver CORRECTNESS outcome (see _driver_rows)."""
    return {n: ok for n, (_, ok) in _driver_rows(root).items()}


def _staleness(root: str | None = None) -> dict[str, int]:
    """id -> round of last implementation change, from STALENESS.json
    (written by scripts/gen_staleness.py: per-function `git log -L` over
    the query's own source span plus a one-level pass over the shared
    kernels it references, mapped to driver rounds via PROGRESS.jsonl).
    Best-effort: a missing or malformed file degrades to 'nothing is
    known stale'."""
    import json
    import os

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root, "STALENESS.json")) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    out: dict[str, int] = {}
    for name, row in data.items():
        if isinstance(row, dict) and isinstance(row.get("impl_round"), int):
            out[name] = row["impl_round"]
    return out


def ordered_queries() -> dict[str, QueryFn]:
    """The registry in the order the driver's time-budgeted correctness
    walk should consume it: RED ids first (a fixed bug must re-prove
    itself next round), then never-driver-sampled ids (evidence
    conversion — the round-5 discipline, VERDICT r4 #3), then
    driver-green ids. Within the green class, ids whose implementation
    changed AFTER their latest driver row (STALENESS.json, VERDICT r6
    #3: the driver has never executed the shipped spelling) come first,
    most-recently-changed first and oldest-evidence first within a
    change round — so leftover walk budget re-greens rewrites instead of
    re-proving untouched queries. The remaining (unchanged-green) class
    orders OLDEST driver evidence first (VERDICT r11 #7: rows that
    predate several rounds are the weakest link in the evidence chain —
    the walk's leftover budget now refreshes them before re-proving
    last round's rows). Registration order breaks every remaining tie.
    The classes come from the driver's own CORRECTNESS_r*.json at load
    time, so the walk self-adapts every round without a manual
    re-tier."""
    q, _ = load_all()
    rows = _driver_rows()
    stale_round = _staleness()
    red = [n for n in q if n in rows and not rows[n][1]]
    never = [n for n in q if n not in rows]
    green = [n for n in q if n in rows and rows[n][1]]
    # list.sort is stable: equal keys keep registration order
    stale = [n for n in green if stale_round.get(n, 0) > rows[n][0]]
    stale.sort(key=lambda n: (-stale_round[n], rows[n][0]))
    fresh = [n for n in green if n not in set(stale)]
    fresh.sort(key=lambda n: rows[n][0])
    return {n: q[n] for n in red + never + stale + fresh}
