"""Every streaming drain reads both fixture table layouts.

The shipped fixtures hold each table as one ``{table}.parquet`` file;
``tools/scalegen`` writes Spark directories of part files instead.  Each
``streaming/jobs.QUERIES`` drain runs over a k=2 scalegen copy of the
test fixture and must equal its ``ORACLES`` SQL, which DuckDB runs over
the same directories.  So do the batch queries whose transformation a
drain shares.  The sentinel drains read their table in place in either
layout: only their sentinel files sit in a temp dir.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from glob import glob

import pytest
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as entry_mod
from golang_mapreduce_spark.streaming import jobs
from golang_mapreduce_spark.tools import scalegen
from tests.oracle import compare, duck_connection

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="session")
def scaled_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scaled_x2"))
    scalegen.generate(spark, sf_dir, out, k=2)
    assert os.path.isdir(os.path.join(out, "events.parquet"))
    assert os.path.isdir(os.path.join(out, "documents.parquet"))
    return out


@pytest.fixture(scope="session")
def scaled_con(scaled_dir):
    con = duck_connection(scaled_dir)
    yield con
    con.close()


#: every drain, and each batch query that shares its transformation with
#: a drain
NAMES = sorted(jobs.QUERIES) + [
    "tumbling_hourly",
    "session_windows_30m",
    "pii_rates",
    "cms_heavy_hitters",
    "hll_distinct_by_source",
]


@pytest.mark.parametrize("name", NAMES)
def test_drain_equals_oracle_on_directory_tables(spark, scaled_dir, scaled_con, name):
    compare(
        entry_mod.queries()[name](spark, scaled_dir),
        scaled_con,
        entry_mod.oracle_sql()[name],
        name,
    )
    spark.catalog.clearCache()


#: The drains whose watermark is pushed past the data by two far-future
#: sentinel files: (fixture table, rows per sentinel file, times the
#: plan scans its stream — both join legs, or both triage probe
#: branches, read it).
SENTINEL_DRAINS = {
    "stateful_sessionize": ("events", 1, 1),
    "streaming_tumbling_append": ("events", 1, 1),
    "streaming_session_append": ("events", 1, 1),
    "streaming_trending_topk": ("events", 1, 1),
    "streaming_unattributed_purchases": ("events", 2, 2),
    "streaming_triage_append": ("documents", 1, 2),
}


class _Progress(StreamingQueryListener):
    """Every progress event, and the ids of the terminated queries."""

    def __init__(self) -> None:
        self.progress = []
        self.terminated = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append(event.id)


@pytest.mark.parametrize("layout", ["file", "directory"])
@pytest.mark.parametrize("name", sorted(SENTINEL_DRAINS))
def test_sentinel_drain_reads_its_table_in_place(
    spark, sf_dir, request, monkeypatch, layout, name
):
    """The drain's stream has two sources: the fixture table at its own
    path, and a sentinel source.  No temp dir the drain removes holds a
    fixture part.  Its data batches are all real rows plus one sentinel
    file, then one sentinel file."""
    from golang_mapreduce_spark.sources.fixtures import load_table

    root = sf_dir if layout == "file" else request.getfixturevalue("scaled_dir")
    table, per_file, scans = SENTINEL_DRAINS[name]
    table_path = os.path.abspath(os.path.join(root, f"{table}.parquet"))
    if os.path.isdir(table_path):
        own_path, parts = table_path, glob(f"{table_path}/*.parquet")
    else:
        # a single-file table is streamed as its directory, glob-filtered
        own_path, parts = os.path.dirname(table_path), [table_path]
    n_real = load_table(spark, root, table).count()

    def digest(path: str) -> str:
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    # every file in every temp dir the drain deletes, read before deletion
    removed = []
    rmtree = shutil.rmtree

    def recording_rmtree(path, *args, **kwargs):
        for d, _, files in os.walk(path):
            removed.extend(digest(os.path.join(d, f)) for f in files)
        rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", recording_rmtree)
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        entry_mod.queries()[name](spark, root).collect()
        # listener events arrive asynchronously, termination last
        deadline = time.time() + 60
        while not listener.terminated and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.terminated) == 1
    copied = {digest(p) for p in parts} & set(removed)
    assert removed and not copied, f"{len(copied)} fixture part(s) in a temp dir"

    fixture = f"FileStreamSource[file:{own_path}]"
    batches = []
    for p in sorted(listener.progress, key=lambda p: p.batchId):
        rows = {s.description: s.numInputRows for s in p.sources}
        assert len(rows) == 2 and fixture in rows, rows
        if p.numInputRows:
            sentinel_rows = sum(n for d, n in rows.items() if d != fixture)
            batches.append((rows[fixture], sentinel_rows))
    assert batches == [
        (scans * n_real, scans * per_file),
        (0, scans * per_file),
    ]
    spark.catalog.clearCache()
