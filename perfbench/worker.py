"""One benchmark run, inside the isolated process that ``run.py`` starts.

Phases, in order:

1. set-up (``setup_s`` ends here): start the Spark session, import the
   registry, and run two untimed warm-up passes over the workload in the
   run's empty temp dir: the first builds every write-once memo and
   bucketed layout, the second lets the JVM's compiler catch up;
2. timed passes, back to back, until ``--seconds`` have elapsed (at least
   three): each query is built with ``fn(spark, data_dir)`` and run to a
   ``noop`` sink; one closed-loop client, one query at a time. ``pass_s``
   is the sum over the workload's queries of each query's fastest timed
   run: one warm pass, without the pauses other processes on the host
   add at random;
3. with ``--trace 1``: the residue probe around the first timed pass, and
   one traced pass after the timed ones;
4. the correctness check on the small check fixture: every query against
   its DuckDB oracle (``tests/parity.py``), q52 against its declared gate
   outcomes;
5. peak resident memory of the driver JVM and this process, then a stop
   that waits for the JVM to exit.

The result is written as JSON to ``--result``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import tempfile
import time
import traceback
import uuid

import spans as sp
from fixtures import TABLE_NAMES
from workloads import WORKLOADS, pass_order

MIN_PASSES = 3
WARMUP_PASSES = 2
# a fixed young generation; the heap itself grows on demand up to the cap
# run.py sets. G1's adaptive young sizing otherwise moves the driver's peak
# resident size by about 16% from run to run; with it fixed, the heap grows
# only with what the old generation keeps live
JVM_HEAP_OPTS = "-Xmn512m"
# per-layer metrics measured during set-up; the rest come from the traced pass
SETUP_METRICS = ("session.start_s", "registry.load_s", "io.memo_builds", "io.memo_s")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_query(spark, fn, qid: str, data: str, tracer: sp.Tracer) -> None:
    with tracer.span("query", query=qid):
        with tracer.span("construct") as c:
            t0 = time.perf_counter()
            df = fn(spark, data)
            if c is not None:
                dt = time.perf_counter() - t0
                c["attrs"]["registry.construct_s"] = dt
                c["attrs"][f"{sp.family(fn)}.construct_s"] = dt
        if tracer.enabled:
            with tracer.span("spark.plan") as p:
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                p["attrs"]["spark.plan_s"] = time.perf_counter() - t0
        with tracer.span("spark.exec") as e:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if e is not None:
                e["attrs"]["spark.exec_s"] = time.perf_counter() - t0


class Run:
    """The session, registry and tallies of one benchmark run."""

    def __init__(self, args, tracer: sp.Tracer):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.query_s: dict[str, list[float]] = {}

    def one_pass(self, pass_no: int, label: str, times: dict | None = None) -> float:
        t0 = time.perf_counter()
        for qid in pass_order(self.wl, self.args.seed, pass_no):
            self.attempted += 1
            t1 = time.perf_counter()
            try:
                run_query(self.spark, self.queries[qid], qid, self.args.data, self.tracer)
                if times is not None:
                    times.setdefault(qid, []).append(time.perf_counter() - t1)
            except Exception:
                _log(f"{label} {qid} raised:\n{traceback.format_exc()}")
                self.failures.append(f"{label}:{qid}")
        return time.perf_counter() - t0

    def setup(self) -> None:
        from eclypsium_etl_spark.session import get_spark

        tr = self.tracer
        with tr.span("setup") as self.setup_span:
            with tr.span("session.start") as s:
                t0 = time.perf_counter()
                self.spark = get_spark(
                    app_name="perfbench",
                    extra_conf={
                        "spark.driver.extraJavaOptions": (
                            f"-Djava.io.tmpdir={os.environ['PERFBENCH_JAVA_TMP']} "
                            "-XX:-UsePerfData " + JVM_HEAP_OPTS
                        ),
                        "spark.ui.showConsoleProgress": "false",
                        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                    },
                )
                if s is not None:
                    s["attrs"]["session.start_s"] = time.perf_counter() - t0
            if self.args.trace:
                sp.install_io_wrappers(tr)
            with tr.span("registry.load") as s:
                t0 = time.perf_counter()
                from eclypsium_etl_spark.registry import load_all

                self.queries, self.oracles = load_all()
                if s is not None:
                    s["attrs"]["registry.load_s"] = time.perf_counter() - t0
            for n in range(WARMUP_PASSES):
                with tr.span("warmup"):
                    self.one_pass(-n, "warmup")

    def timed_passes(self) -> tuple[list[float], dict | None]:
        """Timed passes, tracing off, until the run length is used up; in a
        traced run the residue probe brackets the first one."""
        self.tracer.enabled = False
        tmp = tempfile.gettempdir()
        walls, residue = [], None
        deadline = time.perf_counter() + self.args.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
            before = sp.residue_snapshot(self.spark, tmp) if self.args.trace and not walls else None
            walls.append(self.one_pass(len(walls) + 1, f"pass{len(walls) + 1}", self.query_s))
            if before is not None:
                residue = sp.residue_attrs(before, sp.residue_snapshot(self.spark, tmp))
        return walls, residue

    def traced_pass(self, pass_no: int, untraced_s: float, residue: dict, names: list[str]) -> dict:
        from eclypsium_etl_spark.session import cpu_count

        tr, spark = self.tracer, self.spark
        counters = sp.SparkCounters(spark)
        listener = sp.stream_listener(tr)
        spark.streams.addListener(listener)
        first_job = counters.last_job_id()
        tr.enabled = True
        with tr.span("pass") as pass_span:
            wall = self.one_pass(pass_no, "traced")
        counters.flush()
        tr.enabled = False
        spark.streams.removeListener(listener)

        observed = counters.job_spans(tr, first_job) + [
            s for s in tr.spans if s["name"] == "streaming.batch"
        ]
        tr.attribute(pass_span, observed)
        derive_job_attrs(tr.subtree(pass_span), pass_span, cpu_count())
        pass_tree = tr.subtree(pass_span)
        pass_span["attrs"].update({
            "trace.pass_s": wall,
            "trace.overhead_s": wall - untraced_s,
            # write-once memos must all be built in set-up, never in a pass
            "io.pass_memo_builds": sum(s["attrs"].get("io.memo_builds", 0) for s in pass_tree),
        })
        probe = tr.add("residue", pass_span["start"], pass_span["end"], **residue)
        probe["parent"] = pass_span["id"]

        layer = sp.layer_metrics(tr.subtree(self.setup_span), [n for n in names if n in SETUP_METRICS])
        layer.update(sp.layer_metrics(tr.subtree(pass_span), [n for n in names if n not in SETUP_METRICS]))
        return layer

    def check_all(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.args.check}/{t}.parquet')"
            )
        for qid in self.wl.queries:
            self.attempted += 1
            try:
                ok, detail = check(self.spark, self.queries, self.oracles, con, qid, self.args.check)
            except Exception:
                ok, detail = False, traceback.format_exc()
            if not ok:
                _log(f"check {qid} FAILED: {detail}")
                self.failures.append(f"check:{qid}")
        con.close()


def derive_job_attrs(tree: list[dict], pass_span: dict, cores: int) -> None:
    """Counts that need the job spans: jobs fired while a query was being
    built or a table was being opened, and core use during actions."""
    by_id = {s["id"]: s for s in tree}

    def host(span, name):
        p = by_id.get(span["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        return p

    for s in tree:
        if s["name"] == "construct":
            s["attrs"]["registry.construct_jobs"] = 0
        elif s["name"] == "io.table":
            s["attrs"]["io.table_jobs"] = 0
    exec_task_s = 0.0
    for job in (s for s in tree if s["name"] == "spark.job"):
        for name, key in (("construct", "registry.construct_jobs"), ("io.table", "io.table_jobs")):
            h = host(job, name)
            if h is not None:
                h["attrs"][key] += 1
        if host(job, "spark.exec") is not None:
            exec_task_s += job["attrs"].get("spark.task_s", 0.0)
    exec_s = sum(s["attrs"].get("spark.exec_s", 0.0) for s in tree)
    pass_span["attrs"]["spark.core_util"] = exec_task_s / (exec_s * cores) if exec_s > 0 else 0.0


def check(spark, queries, oracles, con, qid: str, check_dir: str) -> tuple[bool, str]:
    from tests.parity import compare

    if qid == "q52_shortcircuit_gate":
        rows = {r.polarity: r for r in queries[qid](spark, check_dir).collect()}
        hi, lo = rows["high_threshold"], rows["low_threshold"]
        ok = not hi.gate_open and hi.rows_written == 0 and lo.gate_open and lo.rows_written > 0
        return ok, f"gates {hi} {lo}"
    return compare(queries[qid](spark, check_dir), con, oracles[qid])


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this process's peak RSS."""
    kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb = int(line.split()[1])
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--check", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    ap.add_argument("--layer-metrics", default="")
    args = ap.parse_args(argv)

    tracer = sp.Tracer(uuid.uuid4().hex[:12])
    tracer.enabled = bool(args.trace)
    run = Run(args, tracer)
    run.setup()
    ready_wall = time.time()
    _log("setup done")
    walls, residue = run.timed_passes()
    best = {q: min(v) for q, v in run.query_s.items()}
    pass_s = sum(best.values())
    _log(f"{args.workload}: passes {['%.3f' % w for w in walls]}, best per query "
         f"{ {q: round(v, 3) for q, v in sorted(best.items())} }")
    layer = None
    if args.trace:
        names = [n for n in args.layer_metrics.split(",") if n]
        # one traced pass against the median untraced pass, both whole walls
        layer = run.traced_pass(len(walls) + 1, statistics.median(walls), residue, names)
        if args.trace_out:
            with open(args.trace_out, "w") as fh:
                json.dump({"run": tracer.run_id, "workload": args.workload,
                           "seed": args.seed, "spans": tracer.spans}, fh)
    t_check = time.perf_counter()
    run.check_all()
    _log(f"check {time.perf_counter() - t_check:.1f}s")

    gateway = run.spark.sparkContext._gateway
    result = {
        "ready_wall": ready_wall,
        "pass_s": pass_s,
        "peak_rss_mb": peak_rss_mb(gateway.proc.pid),
        "attempted": run.attempted,
        "failures": run.failures,
        "layer": layer,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    _log("stopping")
    run.spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
