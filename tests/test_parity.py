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
