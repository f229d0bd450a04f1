"""Oracle parity for every registered query — the local mirror of the
driver's CORRECTNESS gate, run at sf0.01 (same sf the driver uses)."""

from __future__ import annotations

import glob
import os

import pytest

from eclypsium_etl_spark import registry

from .conftest import SF_CHECK, SF_SMOKE
from .parity import compare, walk

QUERIES, ORACLE = registry.load_all()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(name, spark, duck_check):
    ok, detail = compare(QUERIES[name](spark, SF_CHECK), duck_check, ORACLE[name])
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_no_oracle_queries_run(name, spark):
    """Queries without an oracle still must run and return a stable schema."""
    df = QUERIES[name](spark, SF_CHECK)
    assert df.columns, f"{name}: empty schema"
    df.collect()  # must not raise


def test_driver_tooling_compiles_and_walks(spark):
    """Nothing else exercises the scripts: every scripts/*.py and bench.py
    must byte-compile, and the shared oracle walk they run must return
    the CHECK_TOUCHED artifact shape — an `_sf_dir` row, then one
    {ok, detail, sec} row per query (oracled and no-oracle alike)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(root, "scripts", "*.py"))) + [
        os.path.join(root, "bench.py")
    ]:
        with open(path) as fh:
            compile(fh.read(), path, "exec")
    names = ["q21_agg_groupby", "q52_shortcircuit_gate"]
    assert "q52_shortcircuit_gate" not in ORACLE
    res = walk(spark, SF_SMOKE, QUERIES, ORACLE, names)
    assert list(res) == ["_sf_dir"] + names
    assert res["_sf_dir"] == {"ok": True, "detail": SF_SMOKE}
    for name in names:
        row = res[name]
        assert set(row) == {"ok", "detail", "sec"}, row
        assert row["ok"] is True, row
        assert isinstance(row["detail"], str) and isinstance(row["sec"], float)


def test_q05_jdbc_round_trip_leaves_no_derby_dir(spark, duck_smoke, tmp_path):
    """q05's Derby DB is in-memory, named by the full fixture path: the
    JDBC round trip still matches its oracle, and no on-disk q05_derby_*
    entry appears under the engine temp dir (an on-disk DB is locked by
    the first JVM that boots it, so a second process on the same fixture
    failed). The fixture is linked under a fresh dir so an entry keyed on
    its basename could not already exist."""
    from eclypsium_etl_spark.io import tmp_location

    sf = tmp_path / "sf_q05"
    sf.mkdir()
    (sf / "customer.parquet").symlink_to(os.path.join(SF_SMOKE, "customer.parquet"))
    pattern = tmp_location("q05_derby_*")
    before = set(glob.glob(pattern))
    ok, detail = compare(
        QUERIES["q05_sink_jdbc"](spark, str(sf)), duck_smoke, ORACLE["q05_sink_jdbc"]
    )
    assert ok, detail
    assert set(glob.glob(pattern)) == before
