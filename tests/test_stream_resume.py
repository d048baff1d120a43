"""Streaming checkpoint recovery: a terminated streaming query restarted
with the SAME checkpoint must resume from its committed offsets — files
already processed before the stop are not reprocessed, batch ids
continue instead of restarting, and the final sink state equals
processing every file exactly once.  This is the restart contract a
production ingest pipeline relies on (the reference's analog is
re-executing only unfinished tasks after a worker crash,
6.5840/src/mr/coordinator.go:194-231)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.sources.fixtures import load_table, normalize_events_ts
from golang_mapreduce_spark.streaming.jobs import (
    events_stream_schema,
    events_ts_layout,
)

pytestmark = pytest.mark.streaming


def test_checkpoint_resume_skips_committed_files(spark, sf_dir):
    src = tempfile.mkdtemp(prefix="gmrs_resume_src_")
    ckpt = tempfile.mkdtemp(prefix="gmrs_resume_ckpt_")
    target = tempfile.mkdtemp(prefix="gmrs_resume_tgt_") + "/rows"
    try:
        # phase 1: only file A exists; drain it and terminate
        shutil.copy(os.path.join(sf_dir, "events.parquet"),
                    os.path.join(src, "00_events.parquet"))
        ts_type = events_ts_layout(spark, os.path.join(src, "00_events.parquet"))

        def start(batch_log):
            stream = normalize_events_ts(
                spark.readStream.schema(events_stream_schema(ts_type))
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            ).select("event_id", "user_id", "event_type")

            def sink(batch_df, batch_id):
                batch_log.append(batch_id)
                batch_df.write.mode("append").parquet(target)

            q = (
                stream.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        phase1: list[int] = []
        start(phase1)
        assert phase1 == [0], phase1

        # phase 2: two more files appear; a NEW query on the SAME
        # checkpoint must continue at batch 1 and never re-read file A
        for i in (1, 2):
            shutil.copy(os.path.join(sf_dir, "events.parquet"),
                        os.path.join(src, f"0{i}_events.parquet"))
        phase2: list[int] = []
        start(phase2)
        assert phase2 == [1, 2], phase2

        n_events = load_table(spark, sf_dir, "events").count()
        got = spark.read.parquet(target).count()
        assert got == 3 * n_events, (got, n_events)
        # every copy processed exactly once: each event_id appears 3x
        per_id = (
            spark.read.parquet(target)
            .groupBy("event_id")
            .agg(F.count("*").alias("n"))
            .agg(F.min("n").alias("mn"), F.max("n").alias("mx"))
            .collect()[0]
        )
        assert per_id["mn"] == 3 and per_id["mx"] == 3, per_id
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
