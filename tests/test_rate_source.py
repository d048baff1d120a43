"""Rate-source demo: the built-in load-generator source drives the same
windowed aggregation the file-source jobs use — proof the operator layer
is source-agnostic (file:// today, rate for load tests, Kafka in
production; nothing downstream changes)."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.streaming


def test_rate_source_drives_windowed_agg(spark):
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .option("numPartitions", 2)
        .load()
    )
    assert [f.name for f in stream.schema.fields] == ["timestamp", "value"]

    agg = (
        stream.withWatermark("timestamp", "0 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )
    name = "rate_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .start()
    )
    try:
        # wait until at least one non-empty micro-batch landed
        import time

        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()

    assert rows, "rate source produced no windows"
    for r in rows:
        # sequence values inside each window are a contiguous range
        assert r["hi"] - r["lo"] + 1 == r["n"]
