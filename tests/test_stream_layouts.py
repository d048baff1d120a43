"""Every streaming drain reads both fixture table layouts.

The shipped fixtures hold each table as one ``{table}.parquet`` file;
``tools/scalegen`` writes Spark directories of part files instead.  Each
``streaming/jobs.QUERIES`` drain runs over a k=2 scalegen copy of the
test fixture and must equal its ``ORACLES`` SQL, which DuckDB runs over
the same directories.  So do the batch queries whose transformation a
drain shares.
"""

from __future__ import annotations

import os

import pytest

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
