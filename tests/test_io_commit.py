"""Pins for io._commit_dir's cross-process install protocol (r9 advice):
the fast path must defer to an in-flight replace lock, and the lock
holder must keep — not delete or crash on — a complete build that a
fast-path racer installed inside the rename-aside → install window.

Pure-python: no SparkSession needed, except for the last test (dynamic
partition overwrite of a catalog table), which uses the session one."""

from __future__ import annotations

import os
import threading
import time
from unittest import mock

from eclypsium_etl_spark.io import _commit_dir


def _mk_build(path: str, marker: bool = True) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("data")
    if marker:
        with open(os.path.join(path, "_SUCCESS"), "w") as f:
            f.write("")


def _complete(out: str):
    return lambda: os.path.exists(os.path.join(out, "_SUCCESS"))


def test_fast_path_defers_to_replace_lock(tmp_path):
    """While the replace lock exists, a committer must NOT install into
    the empty window the lock holder opened by renaming the stale dir
    aside — it waits, sees the holder's complete build, discards its
    own."""
    out = str(tmp_path / "out")
    tmp = str(tmp_path / "tmp-build")
    _mk_build(tmp)
    lock = out + ".replace-lock"
    with open(lock, "w"):
        pass

    done = threading.Event()

    def committer():
        _commit_dir(tmp, out, _complete(out))
        done.set()

    t = threading.Thread(target=committer)
    t.start()
    time.sleep(0.2)
    # the committer must still be waiting (out absent, lock held) —
    # under the old protocol it would have fast-path renamed already
    assert not done.is_set()
    assert not os.path.exists(out)
    # the "lock holder" commits a complete build and releases the lock
    holder_build = str(tmp_path / "holder-build")
    _mk_build(holder_build)
    os.rename(holder_build, out)
    os.unlink(lock)
    t.join(timeout=10)
    assert done.is_set()
    # the waiter kept the holder's build and discarded its own tmp
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(tmp)


def test_install_rename_race_keeps_racers_complete_build(tmp_path):
    """If a complete build lands in the microseconds between the lock
    holder's rename-aside and its install rename, the holder's rename
    raises ENOTEMPTY — it must keep the racer's build and discard its
    tmp instead of propagating OSError (and leaking tmp)."""
    out = str(tmp_path / "out")
    tmp = str(tmp_path / "tmp-build")
    _mk_build(tmp)
    _mk_build(out, marker=False)  # crashed-writer leftover: incomplete

    real_rename = os.rename

    def racing_rename(src, dst, *a, **kw):
        if src == tmp and dst == out and not os.path.exists(out):
            # simulate the fast-path racer winning the window: a
            # complete build appears at `out` just before our rename
            racer = str(out) + ".racer"
            _mk_build(racer)
            real_rename(racer, out)
        return real_rename(src, dst, *a, **kw)

    with mock.patch("os.rename", side_effect=racing_rename):
        _commit_dir(tmp, out, _complete(out))

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(tmp)  # no leak
    assert not os.path.exists(out + ".replace-lock")


def test_table_option_overwrites_dynamically_without_session_conf(spark, tmp_path):
    """q351's MV (and the q366/q368 posting tables) get dynamic partition
    overwrite from the table's OPTIONS, not from the session conf a
    concurrent query could observe: an overwriting insertInto must
    rewrite only the partitions it carries and leave the session at
    STATIC."""
    from eclypsium_etl_spark.streaming.queries import retractable_mv_create

    tname = "t_dpo_option_pin"
    cols = ["o_custkey", "n_orders", "total_dec", "nn", "last_seq", "pt"]

    def rows(pts, n):
        return spark.createDataFrame(
            [(p, n, None, 0, 0, p) for p in pts],
            "o_custkey BIGINT, n_orders BIGINT, total_dec DECIMAL(28,4), "
            "nn BIGINT, last_seq INT, pt INT",
        ).select(*cols)

    retractable_mv_create(spark, tname, str(tmp_path / "mv"))
    try:
        rows([0, 1, 2], 1).write.insertInto(tname)
        rows([1], 7).write.insertInto(tname, overwrite=True)
        spark.catalog.refreshTable(tname)
        got = sorted(
            (r.pt, r.n_orders) for r in spark.table(tname).collect()
        )
        assert got == [(0, 1), (1, 7), (2, 1)]
        conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        assert conf.upper() == "STATIC"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
