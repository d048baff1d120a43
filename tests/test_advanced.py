"""Unit/property tests for the advanced module's non-oracle surfaces and
the map_reduce facade's algebraic equivalence (hypothesis)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from golang_mapreduce_spark.mapreduce import map_reduce
from golang_mapreduce_spark.operators.advanced import approx_distinct_users

pytestmark = pytest.mark.python_udf

_spark = None


def _get_spark():
    # hypothesis can't parametrize fixtures; reuse the session fixture's
    # singleton via getOrCreate (same master/config as conftest).
    from golang_mapreduce_spark.session import get_session

    global _spark
    if _spark is None:
        _spark = get_session(
            app_name="gmrs-tests", master="local[4]", shuffle_partitions=8,
            extra_conf={"spark.ui.enabled": "false"},
        )
    return _spark


def test_approx_percentile_banded(spark, sf_dir):
    """The banded contract: every group's sketch percentile lands inside
    the exact ±0.05-rank quantile band, and the exact percentiles match
    the standalone exact query (same rounding)."""
    from golang_mapreduce_spark.operators.advanced import (
        approx_percentile_prices,
        percentile_prices,
    )

    exact = {r["c_mktsegment"]: r for r in percentile_prices(spark, sf_dir).collect()}
    approx = {r["c_mktsegment"]: r for r in approx_percentile_prices(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for seg, row in approx.items():
        assert row["median_in_band"] and row["p90_in_band"], seg
        assert row["median_exact"] == exact[seg]["median_price"]
        assert row["p90_exact"] == exact[seg]["p90_price"]


def test_approx_distinct_banded(spark, sf_dir):
    """The banded contract: exact side matches DuckDB, band verdict is
    TRUE everywhere (5×rsd tolerance)."""
    import duckdb

    got = {r["event_type"]: r for r in approx_distinct_users(spark, sf_dir).collect()}
    exact = dict(
        duckdb.sql(
            f"SELECT event_type, count(DISTINCT user_id) FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(exact)
    for et, row in got.items():
        assert row["exact_users"] == exact[et]
        assert row["within_band"], et


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=3),
            st.text(alphabet="xyz ", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_map_reduce_wordcount_equals_python(records):
    """Property: the facade's distributed wc equals a single-process
    fold — the exact invariant the reference's test harness checks via
    mrsequential (test-mr.sh:78-111)."""
    spark = _get_spark()
    df = spark.createDataFrame(
        [(f"f{i}", contents) for i, (_, contents) in enumerate(records)],
        ["fname", "contents"],
    )

    def mapf(_n, contents):
        return ((w, "1") for w in contents.split())

    def reducef(_k, values):
        return str(len(values))

    got = {r["key"]: r["value"] for r in map_reduce(df, mapf, reducef).collect()}
    expected: dict[str, int] = {}
    for _, contents in records:
        for w in contents.split():
            expected[w] = expected.get(w, 0) + 1
    assert got == {k: str(v) for k, v in expected.items()}
