"""Measurement probes the benchmark owns: process-tree memory and CPU
time, stream progress, and switching Spark's event log on and off in a
live session."""

from __future__ import annotations

import os
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _resident_bytes(pid: int, rss: bool) -> int:
    if rss:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _proc_table() -> tuple[dict[int, list[int]], dict[int, bytes], dict[int, list[bytes]]]:
    """Children, command name and ``stat`` fields after the command name
    of every process."""
    children: dict[int, list[int]] = {}
    comms: dict[int, bytes] = {}
    fields: dict[int, list[bytes]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        close = stat.rindex(b")")
        pid = int(entry)
        comms[pid] = stat[stat.index(b"(") + 1:close]
        fields[pid] = stat[close + 2:].split()
        children.setdefault(int(fields[pid][1]), []).append(pid)
    return children, comms, fields


def _tree_resident_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants.

    The driver JVM, a direct child, is counted by RSS: it shares no pages
    with the rest of the tree, and a PSS page-table walk over its heap costs
    tens of milliseconds.  Every other process is counted by PSS: Python
    workers are forked from one daemon and share its pages, and a child the
    JVM is spawning still shares the JVM's.
    """
    children, comms, _ = _proc_table()
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        todo.extend((child, pid) for child in children.get(pid, ()))
        try:
            total += _resident_bytes(pid, rss=parent == root and comms[pid] == b"java")
        except OSError:
            pass
    return total


def _ticks(fields: list[bytes], children: bool) -> int:
    # utime, stime (fields 14-15 of /proc/<pid>/stat), then cutime, cstime
    return sum(int(v) for v in fields[11:15 if children else 13])


def program_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, of every descendant of ``root`` (the
    driver JVM and the Python workers below it), less the JVM's JIT
    compiler threads.  ``root`` itself is left out, as its sampler thread
    is the benchmark's.  A worker that exited and was waited for still
    counts, in its parent's children's time.  Compiler threads must not
    exit (``-XX:-UseDynamicNumberOfCompilerThreads``), or their time would
    stay in the process total but leave the thread sum."""
    children, comms, fields = _proc_table()
    ticks, todo = 0, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        ticks += _ticks(fields[pid], children=True)
        if comms[pid] == b"java":
            ticks -= _compiler_ticks(pid)
    return ticks / CLK_TCK


def _compiler_ticks(pid: int) -> int:
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        close = stat.rindex(b")")
        if stat[stat.index(b"(") + 1:close].startswith((b"C1 Compiler", b"C2 Compiler")):
            ticks += _ticks(stat[close + 2:].split(), children=False)
    return ticks


class RssSampler:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) on a thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_resident_bytes(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class StreamProgress(StreamingQueryListener):
    """Records each micro-batch's durations and state-store figures.

    Progress events arrive on the listener bus thread; :meth:`window_metrics`
    is read only after the bus has drained.
    """

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        row = {
            "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "run_id": str(p.runId),
            "streaming.input_rows": p.numInputRows,
            "streaming.planning_s": d.get("queryPlanning", 0) / 1e3,
            "streaming.add_batch_s": d.get("addBatch", 0) / 1e3,
            "streaming.commit_log_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "streaming.state_update_s": sum(s.allUpdatesTimeMs for s in ops) / 1e3,
            "streaming.state_commit_s": sum(s.commitTimeMs for s in ops) / 1e3,
            "streaming.state_rows": sum(s.numRowsTotal for s in ops),
            "streaming.state_bytes": sum(s.memoryUsedBytes for s in ops),
        }
        with self._lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def window_metrics(self, start: float, end: float) -> dict[str, float]:
        """Sum the batches that started inside [start, end].  State size is
        the size after each stream's last batch, summed over streams."""
        with self._lock:
            rows = [b for b in self.batches if start - 0.005 <= b["ts"] <= end + 0.005]
        out = dict.fromkeys(STREAM_COUNTERS, 0.0)
        out["streaming.batches"] = float(len(rows))
        last: dict[str, dict] = {}
        for b in rows:
            for k in STREAM_SUMMED:
                out[k] += b[k]
            last[b["run_id"]] = b
        for b in last.values():
            out["streaming.state_rows"] += b["streaming.state_rows"]
            out["streaming.state_bytes"] += b["streaming.state_bytes"]
        return out


STREAM_SUMMED = (
    "streaming.input_rows", "streaming.planning_s", "streaming.add_batch_s",
    "streaming.commit_log_s", "streaming.state_update_s", "streaming.state_commit_s",
)
STREAM_COUNTERS = ("streaming.batches",) + STREAM_SUMMED + (
    "streaming.state_rows", "streaming.state_bytes",
)


class Tracing:
    """Turns the session's event log and the stream listener on and off,
    so traced and untraced passes can alternate in one session."""

    def __init__(self, spark) -> None:
        """``spark`` must have been built with the event log enabled."""
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._logger = self._sc.eventLogger().get()
        self.streams = StreamProgress()
        spark.streams.addListener(self.streams)
        self.on = True

    def drain(self) -> None:
        """Wait until every posted event reached the listeners."""
        self._sc.listenerBus().waitUntilEmpty()

    def enable(self) -> None:
        if not self.on:
            self._sc.listenerBus().addToEventLogQueue(self._logger)
            self._spark.streams.addListener(self.streams)
            self.on = True

    def disable(self) -> None:
        if self.on:
            self.drain()
            self._spark.streams.removeListener(self.streams)
            self._sc.listenerBus().removeListener(self._logger)
            self.on = False

    def cache_probe(self) -> tuple[int, int]:
        """Persisted RDDs and their bytes in memory and on disk."""
        infos = self._sc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
