"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Progress and Spark logs go to
standard error.

What one run does:

1. makes its inputs: the relational fixture (sf0.1), the check fixture
   (sf0.01) and, for the sharded workload, a 10-shard decorrelated corpus
   drawn from the seed. Inputs are cached under ``.perfbench/data`` and
   are not part of any timing;
2. gives the run its own empty ``TMPDIR``, Java temp dir and Spark local
   dir under ``.perfbench/runs``, and puts the checkout on ``PYTHONPATH``
   so Python workers import the engine from any working directory;
3. starts ``worker.py`` in its own process group with its working
   directory inside the run dir, and reports ``setup_s`` from that start
   to the first timed query. Set-up is measured once per run: a process
   starts its Spark session and builds its write-once memos only once;
4. waits for the worker and for every process it started, removes the
   run dir, and prints the result.

``--smoke`` swaps in the sf0.001 fixture and a 2-shard corpus (the smoke
test's setting).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170.0
FIXTURE_SEED = 42  # the relational and check fixtures are the same every run
# the driver heap cap, in place of the engine's default: a run stays small on
# a shared host, and peak_rss_mb is measured well below the cap
DRIVER_MEMORY = "2g"

sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def make_inputs(workload, seed: int, smoke: bool) -> tuple[str, str]:
    """(timed-pass data dir, check data dir), built once and cached."""
    data = os.path.join(WORK, "data")
    base_sf, check_sf, shards = (0.001, 0.001, 2) if smoke else (0.1, 0.01, 10)
    check_dir = fixtures.base(f"{data}/sf{check_sf}", check_sf, FIXTURE_SEED)
    if workload.data == "sharded":
        prefix = f"sf{check_sf}_x{shards}_seed"
        # one corpus per seed; keep only this seed's, so the cache stays small
        for old in os.listdir(data):
            if old.startswith(prefix) and old != f"{prefix}{seed}":
                shutil.rmtree(os.path.join(data, old), ignore_errors=True)
        timed = fixtures.sharded(check_dir, f"{data}/{prefix}{seed}", shards, seed)
    else:
        timed = fixtures.base(f"{data}/sf{base_sf}", base_sf, FIXTURE_SEED)
    return timed, check_dir


def _alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait for every process of the worker's group to end; kill what
    outlives grace. The worker leads the group, so it is reaped first: an
    unreaped worker would keep the group alive as a zombie."""
    pgid = proc.pid
    deadline = time.monotonic() + grace_s
    while _alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    proc.wait()
    # killed children are orphans now; bound the wait in case nothing reaps them
    deadline = time.monotonic() + 10.0
    while _alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "eclypsium_etl_spark", "__init__.py")) or (
        not os.path.isfile(os.path.join(ROOT, "tests", "parity.py"))
    ):
        _log(f"no engine checkout at {ROOT}: eclypsium_etl_spark/ and tests/parity.py are required")
        return 2
    spec = load_spec()
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}

    workload = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir, check_dir = make_inputs(workload, args.seed, args.smoke)
    _log(f"inputs ready in {time.perf_counter() - t0:.1f}s: {data_dir}")

    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp, java_tmp, local = (os.path.join(run_dir, d) for d in ("tmp", "jtmp", "local"))
    for d in (tmp, java_tmp, local):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        PERFBENCH_JAVA_TMP=java_tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    result_path = os.path.join(run_dir, "result.json")
    trace_path = None
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json"
        )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--check", check_dir, "--result", result_path,
        "--layer-metrics", ",".join(units) if args.trace else "",
    ] + (["--trace-out", trace_path] if trace_path else [])

    launched = time.time()
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        _log("run exceeded its time limit")
        code = None
    _reap(proc, grace_s=30.0 if code is not None else 0.0)
    try:
        with open(result_path) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or res is None:
        _log(f"worker failed (exit {code})")
        return 1

    for f in res["failures"]:
        _log(f"failed: {f}")
    if args.trace:
        values = res["layer"]
    else:
        values = {
            "setup_s": res["ready_wall"] - launched,
            "pass_s": res["pass_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
    missing = set(units) - set(values)
    if missing:
        _log(f"metrics not measured: {sorted(missing)}")
        return 1
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
