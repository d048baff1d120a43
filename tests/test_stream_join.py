"""Stream-stream inner join with watermarks: purchases joined to the
same user's clicks within the preceding 10 minutes.  Inner-join matches
emit as both sides arrive (watermarks only bound state), so the drained
availableNow result must equal the equivalent batch interval join."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.sources.fixtures import load_table
from golang_mapreduce_spark.streaming.jobs import read_events_stream

pytestmark = pytest.mark.streaming


def _streams(spark, sf_dir):
    base = read_events_stream(spark, sf_dir)
    clicks = (
        base.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    return clicks, purchases


def test_stream_stream_join_equals_batch(spark, sf_dir):
    clicks, purchases = _streams(spark, sf_dir)
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("purchase_id", "click_id")

    name = "ssj_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["purchase_id"], r["click_id"]) for r in spark.table(name).collect()}

    e = load_table(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    expected = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert got == expected
    assert len(expected) > 0
