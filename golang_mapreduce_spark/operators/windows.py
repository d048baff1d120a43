"""Event-time windowing over the ``events`` table — tumbling, sliding,
and session windows (absent in the reference; its paradigm would need one
MR round per window assignment, SURVEY.md §2.4).

Batch-first so every window query is DuckDB-oracle-checkable.  The
hourly and session aggregations are the kernels :func:`hourly_counts` and
:func:`session_counts`: the batch queries call them on ``load_table``,
and the drains in golang_mapreduce_spark.streaming call them on the event
stream (complete mode, or append mode behind a watermark).  All window
starts are epoch-aligned in UTC (session timezone pinned by the session
factory), matching the oracle's explicit floor(epoch/step) arithmetic.

Scale: groupBy(window) shuffles on (window, key) — at 100 TB the
partition count is (time-range/step × keys), naturally parallel; skewed
hot keys are AQE-split.  Sliding windows fan out rows length/slide× before
the shuffle (Spark's Expand) — keep length/slide small or pre-aggregate
per slide-quantum then roll up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.relational import _dec
from golang_mapreduce_spark.sources.fixtures import load_table


def hourly_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows × event_type over a batch or streaming
    ``events`` frame.  It groups on the full window struct and projects
    its start after the aggregate: an append-mode stream must group on
    the struct, because a projected start is detached from the
    watermarked event-time column and Spark rejects the plan."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr(f"CAST(SUM({_dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type."""
    return hourly_counts(load_table(spark, sf_dir, "events"))


TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS wstart,
       event_type,
       COUNT(*) AS n,
       CAST(SUM({_dec('value')}) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    exactly length/slide = 2 windows).  Spark expands rows into their
    windows before the shuffle; the oracle replicates the assignment with
    explicit epoch arithmetic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").start.alias("wstart"))
        .agg(
            F.count("*").alias("n"),
            F.expr(f"CAST(SUM({_dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
    )


SLIDING_SQL = f"""
SELECT TIMESTAMP '1970-01-01'
         + to_seconds(CAST(floor(epoch(ts)/300)*300 AS BIGINT) - 300*off)
         AS wstart,
       COUNT(*) AS n,
       CAST(SUM({_dec('value')}) AS DOUBLE) AS sum_value
FROM events, (SELECT unnest([0, 1]) AS off)
GROUP BY 1
"""


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap over a
    batch or streaming ``events`` frame."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"CAST(SUM({_dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.  Spark's
    session_window merges adjacent events whose gap < 30 min; the oracle
    is the classic gaps-and-islands formulation (lag + running flag sum),
    which is provably the same partition of each user's timeline."""
    return session_counts(load_table(spark, sf_dir, "events"))


SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         -- strict > : Spark's session_window MERGES an event arriving
         -- exactly `gap` after its predecessor (adjacent sessions are
         -- inclusive-merged; verified empirically, pinned in
         -- tests/test_session_boundary.py)
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         -- same (ts, event_id) order as the flags: a user's events
         -- with equal ts would otherwise sum in arbitrary order
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM({_dec('value')}) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY user_id, session_id
"""


QUERIES = {
    "tumbling_hourly": tumbling_hourly,
    "sliding_10m_5m": sliding_10m_5m,
    "session_windows_30m": session_windows_30m,
}

ORACLES = {
    "tumbling_hourly": TUMBLING_SQL,
    "sliding_10m_5m": SLIDING_SQL,
    "session_windows_30m": SESSION_SQL,
}
