"""Spans and counters taken around the calls into each engine layer.

Nothing here changes the engine: spans are opened by the benchmark's own
code (query construction, planning, the action), by wrappers installed on
``eclypsium_etl_spark.io`` before the query modules import it, by a
``StreamingQueryListener`` for micro-batches, and by reading Spark's
``AppStatusStore`` for jobs and stages. A job is attributed to the
innermost span open when it was submitted, so jobs fired on a stream
thread during a drain land in the query's construct span.

Every per-layer metric is an attribute, named exactly like the metric,
on the spans of its layer; :func:`layer_metrics` folds them into the
reported numbers. Spans are kept in memory and written once at the end.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager

# metrics folded with something other than a sum
_MAX = {"spark.task_skew"}
_MEDIAN = {"streaming.batch_ms_p50"}
_PEAK_PER_STREAM = {"streaming.state_rows", "streaming.state_mb"}

FAMILIES = ("operators", "llm", "streaming", "pipeline")


def family(fn) -> str:
    """The engine family a query callable lives in, from its module path."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 1 and parts[1] in FAMILIES else "operators"


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = (
                self._main_stack
                if threading.current_thread() is threading.main_thread()
                else []
            )
        return stack

    @contextmanager
    def span(self, name: str, query: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a callback thread (foreachBatch) hangs its spans under whatever
        # the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        s = {
            "run": self.run_id,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "query": query or (parent["query"] if parent else None),
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """A span observed after the fact (a job, a micro-batch); its
        parent is assigned by :meth:`attribute`."""
        s = {
            "run": self.run_id, "id": next(self._ids), "parent": None,
            "query": None, "name": name, "start": start, "end": end,
            "attrs": attrs,
        }
        self.spans.append(s)
        return s

    def subtree(self, root: dict) -> list[dict]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], ()))
        return out

    def attribute(self, root: dict, observed: list[dict]) -> None:
        """Parent each observed span to the innermost span of ``root``'s
        subtree that was open at its start."""
        scoped = [s for s in self.subtree(root) if s["end"] is not None]
        by_id = {s["id"]: s for s in scoped}

        def depth(s):
            d = 0
            while s["parent"] in by_id:
                s, d = by_id[s["parent"]], d + 1
            return d

        ranked = sorted(scoped, key=depth, reverse=True)
        for o in observed:
            host = next(
                (s for s in ranked if s["start"] <= o["start"] <= s["end"]), root
            )
            o["parent"], o["query"] = host["id"], host["query"]


# --------------------------------------------------------------------- io


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _warehouse(df) -> str:
    wh = df.sparkSession.conf.get("spark.sql.warehouse.dir")
    return wh.removeprefix("file://").removeprefix("file:")


def install_io_wrappers(tracer: Tracer) -> None:
    """Wrap the io entry points on the module object. Must run before
    ``registry.load_all()`` imports the query modules, so that their
    ``from ..io import ...`` bindings pick up the wrappers."""
    from eclypsium_etl_spark import io

    def wrap(name, before, after):
        orig = getattr(io, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(f"io.{name}") as s:
                state = before(*args, **kwargs)
                t0 = time.perf_counter()
                out = orig(*args, **kwargs)
                s["attrs"].update(after(time.perf_counter() - t0, state))
            return out

        setattr(io, name, wrapper)

    def table_after(dt, _):
        return {"io.table_calls": 1, "io.table_s": dt}

    def memo_before(spark, out, *a, **k):
        return not os.path.exists(os.path.join(out, "_SUCCESS"))

    def bucketed_before(df, name, *a, **k):
        final = os.path.join(_warehouse(df), name.lower())
        return not os.path.exists(os.path.join(final, "_SUCCESS"))

    def memo_after(dt, built):
        return {"io.memo_builds": int(built), "io.memo_s": dt if built else 0.0}

    def sink_before(df, path, *a, **k):
        return path

    def bucket_sink_before(df, name, *a, **k):
        return os.path.join(_warehouse(df), name.lower())

    def sink_after(dt, path):
        return {"io.sink_calls": 1, "io.sink_s": dt, "io.sink_mb": _du(path) / 1e6}

    wrap("table", lambda *a, **k: None, table_after)
    wrap("materialize_once", memo_before, memo_after)
    wrap("ensure_bucketed", bucketed_before, memo_after)
    wrap("sink_overwrite", sink_before, sink_after)
    wrap("write_bucketed", bucket_sink_before, sink_after)


# ------------------------------------------------------------------ spark


class SparkCounters:
    """Reads jobs and stages from the JVM AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def flush(self) -> None:
        """Wait until every posted Spark/streaming event reached listeners."""
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.flush()
        jobs = self._store.jobsList(None)
        return -1 if jobs.isEmpty() else int(jobs.head().jobId())

    def job_spans(self, tracer: Tracer, after_job_id: int) -> list[dict]:
        """One span per job submitted after ``after_job_id``."""
        self.flush()
        spans, seen_stages = [], set()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = int(job.jobId())
            if jid <= after_job_id:
                break  # newest first
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime() / 1e3
            done = job.completionTime()
            end = done.get().getTime() / 1e3 if done.isDefined() else start
            attrs = {"spark.jobs": 1, "job_id": jid}
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                self._add_stage(sid, attrs)
            spans.append(tracer.add("spark.job", start, end, **attrs))
        return spans

    def _add_stage(self, sid: int, attrs: dict) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # stage evicted from the store, or never ran
            return
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            return
        add = lambda k, v: attrs.__setitem__(k, attrs.get(k, 0) + v)  # noqa: E731
        run_ms = st.executorRunTime()
        n_tasks = st.numTasks()
        add("spark.stages", 1)
        add("spark.tasks", n_tasks)
        add("spark.failed_tasks", st.numFailedTasks())
        add("spark.task_s", run_ms / 1e3)
        add("spark.task_cpu_s", st.executorCpuTime() / 1e9)
        add("spark.gc_s", st.jvmGcTime() / 1e3)
        add("spark.input_mb", st.inputBytes() / 1e6)
        add("spark.shuffle_read_mb", st.shuffleReadBytes() / 1e6)
        add("spark.shuffle_write_mb", st.shuffleWriteBytes() / 1e6)
        add("spark.spill_mb", (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6)
        # skew only where it can cost something: several tasks, >= 50 ms
        if n_tasks >= 2 and run_ms >= 50:
            summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                med, worst = q.apply(0), q.apply(1)
                if med > 0:
                    attrs["spark.task_skew"] = max(
                        attrs.get("spark.task_skew", 0.0), worst / med
                    )


# -------------------------------------------------------------- streaming


def stream_listener(tracer: Tracer):
    """A StreamingQueryListener that records one span per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            if not tracer.enabled:
                return
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            end = time.time()
            trigger = float(d.get("triggerExecution", 0))
            tracer.add(
                "streaming.batch", end - trigger / 1e3, end,
                stream=str(p.runId),
                **{
                    "streaming.batches": 1,
                    "streaming.input_rows": int(p.numInputRows),
                    "streaming.batch_ms_p50": trigger,
                    "streaming.add_batch_ms": float(d.get("addBatch", 0)),
                    "streaming.wal_commit_ms": float(d.get("walCommit", 0)),
                    "streaming.planning_ms": float(d.get("queryPlanning", 0)),
                    "streaming.state_rows": sum(int(o.numRowsTotal) for o in ops),
                    "streaming.state_mb": sum(
                        int(o.memoryUsedBytes) for o in ops
                    ) / 1e6,
                },
            )

    return _Listener()


# ---------------------------------------------------------------- residue


def _tmp_entries(root: str) -> set[str]:
    out = set()
    for top in os.listdir(root):
        out.add(top)
        path = os.path.join(root, top)
        if os.path.isdir(path) and not os.path.islink(path):
            out.update(f"{top}/{c}" for c in os.listdir(path))
    return out


def residue_snapshot(spark, tmp_dir: str) -> dict:
    jsc = spark.sparkContext._jsc.sc()
    return {
        "tmp": _tmp_entries(tmp_dir),
        "tables": {(t.name, t.isTemporary) for t in spark.catalog.listTables()},
        "rdd_blocks": sum(i.numCachedPartitions() for i in jsc.getRDDStorageInfo()),
        "streams": len(spark.streams.active),
        "conf": dict(spark.conf.getAll),
    }


def residue_attrs(before: dict, after: dict) -> dict:
    """What one pass left behind. A new temp entry inside a new temp dir
    counts once, as its directory."""
    new_tmp = after["tmp"] - before["tmp"]
    tmp = sum(1 for e in new_tmp if e.split("/")[0] not in new_tmp or "/" not in e)
    keys = set(before["conf"]) | set(after["conf"])
    attrs = {
        "residue.tmp_entries": tmp,
        "residue.catalog_tables": len(after["tables"] - before["tables"]),
        "residue.rdd_blocks": max(0, after["rdd_blocks"] - before["rdd_blocks"]),
        "residue.active_streams": max(0, after["streams"] - before["streams"]),
        "residue.conf_keys": sum(
            1 for k in keys if before["conf"].get(k) != after["conf"].get(k)
        ),
    }
    attrs["residue_count"] = sum(attrs.values())
    return attrs


# -------------------------------------------------------------- reporting


def layer_metrics(spans: list[dict], names: list[str]) -> dict[str, float]:
    """Fold span attributes into one value per metric name."""
    values: dict[str, list] = {n: [] for n in names}
    for s in spans:
        for k, v in s["attrs"].items():
            if k in values:
                values[k].append((s["attrs"].get("stream"), v))
    out = {}
    for name, vals in values.items():
        nums = [v for _, v in vals]
        if not nums:
            out[name] = 0
        elif name in _MAX:
            out[name] = max(nums)
        elif name in _MEDIAN:
            out[name] = statistics.median(nums)
        elif name in _PEAK_PER_STREAM:
            peaks: dict = {}
            for stream, v in vals:
                peaks[stream] = max(peaks.get(stream, 0), v)
            out[name] = sum(peaks.values())
        else:
            out[name] = sum(nums)
    return out
