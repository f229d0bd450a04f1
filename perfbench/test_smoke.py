"""Smoke test of the benchmark at sf0.001 with a 2-shard corpus.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced through ``run.py
--smoke`` and checks the output contract: every end-to-end metric prints
by name with its unit, and the traced run writes spans with parent links
whose attributes, over all workloads, cover every per-layer metric name.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_print_with_units(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0


@pytest.fixture(scope="module")
def traces() -> dict[str, tuple[dict, list[dict]]]:
    """One traced run per workload: (printed result, recorded spans)."""
    out = {}
    for workload in sorted(WORKLOADS):
        res = _run(workload, 1)
        with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed7.json")) as fh:
            out[workload] = res, json.load(fh)["spans"]
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer_metric(traces, workload):
    out, spans = traces[workload]
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    ids = {s["id"] for s in spans}
    assert len({s["run"] for s in spans}) == 1
    assert {s["name"] for s in spans if s["parent"] is None} == {"setup", "pass"}
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    assert all(s["query"] for s in spans if s["name"] in ("construct", "spark.exec"))


def test_spans_cover_every_layer_metric(traces):
    # a layer is traced on the workloads that run it: streaming spans come
    # from stream_ingest only, llm construct spans from llm_curation_10x
    seen = {k for _, spans in traces.values() for s in spans for k in s["attrs"]}
    assert {m["name"] for m in SPEC["per_layer"]} <= seen
