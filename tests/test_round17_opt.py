"""Round-17 optimization pins.

Covers the state-partition sizing of the streaming drains: the bounded-
state constant, the cores/4 join rule, and the conf-override lock around
bounded-state drains.
"""

from __future__ import annotations

import inspect

import pytest

from golang_mapreduce_spark.streaming import jobs


def test_no_import_time_env_int_parse():
    """The module constant is a plain literal that no environment
    variable overrides, passed at each bounded drain's call site (NOT
    inside run_stream_to_batch, which also serves the join drains whose
    partitions come from join_state_partitions)."""
    src = inspect.getsource(jobs)
    assert "os.environ" not in src
    assert jobs.BOUNDED_STATE_PARTITIONS == 8
    drain = inspect.signature(jobs.run_stream_to_batch)
    assert drain.parameters["state_partitions"].default is None
    assert src.count(
        "state_partitions=BOUNDED_STATE_PARTITIONS"
    ) == 7, "every bounded drain passes the constant at its call site"


def test_join_state_partitions_is_fraction_of_session():
    """r17: stream-stream join drains size their state stores to a
    QUARTER of the session parallelism (state is O(watermark window) —
    it must scale with the cluster, so a fraction, never a constant;
    the measured knee, see join_state_partitions' docstring)."""

    class _Conf:
        def __init__(self, v):
            self.v = v

        def get(self, key):
            return self.v

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert jobs.join_state_partitions(_Spark("32")) == 8
    assert jobs.join_state_partitions(_Spark("8")) == 2
    assert jobs.join_state_partitions(_Spark("1")) == 1, "floor 1"


def test_bounded_drain_conf_window_is_locked():
    """ADVICE r16: the set -> start -> restore window on the session-
    global shuffle-partition conf is serialized by a module lock so two
    concurrent bounded drains cannot interleave set/restore."""
    drain_src = inspect.getsource(jobs.run_stream_to_batch)
    assert "_CONF_OVERRIDE_LOCK" in drain_src
    import threading
    assert isinstance(jobs._CONF_OVERRIDE_LOCK, type(threading.Lock()))


@pytest.mark.streaming
def test_join_drain_state_partitions_result_identical(spark, sf_dir):
    """r17: the stream-stream join drains run their state stores at
    join_state_partitions (cores/4) — the drained result must be
    byte-identical to the same drain at the session default (state
    partition count is invisible to a watermarked join's output), and
    the conf override must be restored."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    out = jobs.streaming_click_attribution(spark, sf_dir)
    rows_sized = sorted(map(tuple, out.collect()))
    assert spark.conf.get(key) == before, "drain leaked its conf override"

    # same op forced to the session default: at 4x the shuffle
    # partitions, join_state_partitions (a quarter) equals `before`
    spark.conf.set(key, str(4 * int(before)))
    try:
        rows_default = sorted(
            map(tuple, jobs.streaming_click_attribution(spark, sf_dir).collect())
        )
    finally:
        spark.conf.set(key, before)
    assert rows_sized == rows_default
    assert len(rows_sized) > 0
    assert spark.conf.get(key) == before
