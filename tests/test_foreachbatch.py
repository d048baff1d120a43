"""foreachBatch sink: the escape hatch for exactly-once delivery into
systems without a native streaming sink.  Pattern under test: complete-
mode aggregation + idempotent overwrite per micro-batch (replays of a
batch converge to the same target state); the final target must equal
the batch aggregation."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.sources.fixtures import load_table, normalize_events_ts
from golang_mapreduce_spark.streaming.jobs import (
    events_stream_schema,
    events_ts_layout,
    read_events_stream,
)

pytestmark = pytest.mark.streaming


def test_foreachbatch_idempotent_overwrite(spark, sf_dir):
    target = tempfile.mkdtemp(prefix="gmrs_febs_") + "/agg"
    seen_batches: list[int] = []

    def upsert(batch_df, batch_id: int):
        # idempotent: complete-mode batch carries the full aggregate, so
        # a replayed batch_id rewrites the same state
        seen_batches.append(batch_id)
        batch_df.write.mode("overwrite").parquet(target)

    stream = read_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .queryName("febs_" + uuid.uuid4().hex[:8])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert seen_batches, "foreachBatch never invoked"
    got = {(r["event_type"], r["n"]) for r in spark.read.parquet(target).collect()}
    expected = {
        (r["event_type"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_foreachbatch_batchid_ledger_replay_safe(spark, sf_dir):
    """Append-mode exactly-once via the batch-id ledger pattern: the
    sink records which batch_ids are already committed and a replayed
    batch (same batch_id, as after a driver restart) is a no-op, so
    at-least-once delivery + idempotent commit = exactly-once totals.
    This is the incremental counterpart to the complete-mode overwrite
    test above — the pattern MERGE-capable targets implement natively."""
    import os
    import shutil

    src = tempfile.mkdtemp(prefix="gmrs_ledger_src_")
    for i in range(3):  # 3 files -> 3 micro-batches at maxFilesPerTrigger=1
        shutil.copy(os.path.join(sf_dir, "events.parquet"),
                    os.path.join(src, f"{i:02d}_events.parquet"))
    target = tempfile.mkdtemp(prefix="gmrs_ledger_tgt_") + "/rows"
    committed: set[int] = set()
    replayable = {}

    def upsert(batch_df, batch_id: int):
        if batch_id in committed:  # replayed batch: already durable, skip
            return
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(target)
        committed.add(batch_id)
        replayable[batch_id] = batch_df

    ts_type = events_ts_layout(spark, os.path.join(src, "00_events.parquet"))
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).select("event_id", "user_id", "event_type")
    q = (
        stream.writeStream.foreachBatch(upsert)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .queryName("ledger_" + uuid.uuid4().hex[:8])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(committed) >= 3

    n_before = spark.read.parquet(target).count()
    # simulate post-restart replay of every batch: all must no-op
    for bid, bdf in replayable.items():
        upsert(bdf, bid)
    assert spark.read.parquet(target).count() == n_before
    # exactly-once totals: 3 file copies, each event exactly 3 times
    n_events = load_table(spark, sf_dir, "events").count()
    assert n_before == 3 * n_events
