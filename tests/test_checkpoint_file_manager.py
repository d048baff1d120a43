"""Stream-drain checkpoints go through Hadoop's FileSystem API.

Spark's default checkpoint file manager renames through Hadoop's
FileContext, which on a local path without libhadoop forks a
``readlink`` process per getFileLinkStatus call: about 30 per
stream-stream join drain.  The engine pins the FileSystem-API manager
(``session.DEFAULT_CONF``, plus a guarded pin for sessions it did not
build), and every drain goes through ``jobs.drain_available_now``, which
also drops the memory sink's temp view once the drained frame is
resolved."""

from __future__ import annotations

import os
import threading

import pytest

from golang_mapreduce_spark.session import (
    CHECKPOINT_FILE_MANAGER_KEY,
    FS_CHECKPOINT_FILE_MANAGER,
)
from golang_mapreduce_spark.streaming import jobs
from tests.oracle import compare, duck_connection

pytestmark = pytest.mark.streaming


def _child_commands(parent_pid: int) -> dict[int, str]:
    """pid -> command name of every live direct child of ``parent_pid``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if int(rest.split()[1]) == parent_pid:
            out[int(entry)] = comm
    return out


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs procfs")
def test_click_attribution_drain_forks_no_readlink(spark, sf_dir):
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    readlinks: set[int] = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            readlinks.update(
                pid
                for pid, comm in _child_commands(jvm_pid).items()
                if comm == "readlink"
            )

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        out = jobs.streaming_click_attribution(spark, sf_dir)
    finally:
        stop.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    assert not readlinks, f"drain forked {len(readlinks)} readlink processes"
    compare(out, duck_connection(sf_dir), jobs.CLICK_ATTRIBUTION_SQL, "clicks")


def test_unbuilt_session_gets_pin_on_first_drain_only(spark, sf_dir, monkeypatch):
    """A session the engine did not build (no DEFAULT_CONF) gets the
    file manager on its first drain; later drains see the value and do
    not write it again."""
    child = spark.newSession()
    child.conf.unset(CHECKPOINT_FILE_MANAGER_KEY)
    assert child.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None

    first = jobs.streaming_tumbling_hourly(child, sf_dir).collect()
    assert child.conf.get(CHECKPOINT_FILE_MANAGER_KEY) == FS_CHECKPOINT_FILE_MANAGER

    writes = []
    real_set = child.conf.set

    def spy(key, value):
        writes.append(key)
        real_set(key, value)

    monkeypatch.setattr(child.conf, "set", spy)
    second = jobs.streaming_tumbling_hourly(child, sf_dir).collect()
    assert CHECKPOINT_FILE_MANAGER_KEY not in writes
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY) == FS_CHECKPOINT_FILE_MANAGER


def test_drains_leave_no_temp_view(spark, sf_dir):
    """Each memory-sink drain used to leave its sink view in the caller's
    catalog; the drained frames must still read their rows after the
    view is dropped."""
    before = _temp_views(spark)
    hourly = jobs.streaming_tumbling_hourly(spark, sf_dir)
    dedup = jobs.streaming_dedup(spark, sf_dir)
    assert _temp_views(spark) == before
    con = duck_connection(sf_dir)
    compare(hourly, con, jobs.ORACLES["streaming_tumbling_hourly"], "hourly")
    compare(dedup, con, jobs.STREAMING_DEDUP_SQL, "dedup")
