"""RocksDB state store: config surface + a live run.  The provider is
bundled with Spark — this proves the large-state path actually executes
(state kept off-heap in RocksDB, results identical to the default
HDFS-backed store), not just that we can spell the config."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.windows import hourly_counts
from golang_mapreduce_spark.session import rocksdb_state_conf
from golang_mapreduce_spark.streaming.jobs import read_events_stream

pytestmark = pytest.mark.streaming


def test_rocksdb_conf_shape():
    conf = rocksdb_state_conf(bounded_memory_mb=512)
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] == "512"
    )
    # memory bound only appears when asked for
    assert (
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"
        not in rocksdb_state_conf()
    )


def test_rocksdb_provider_live_equals_batch(spark, sf_dir):
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    for k, v in rocksdb_state_conf().items():
        spark.conf.set(k, v)
    try:
        agg = hourly_counts(read_events_stream(spark, sf_dir))
        name = "rocks_" + uuid.uuid4().hex[:10]
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["wstart"], r["event_type"], r["n"])
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    from golang_mapreduce_spark.operators.windows import tumbling_hourly

    expected = {
        (r["wstart"], r["event_type"], r["n"])
        for r in tumbling_hourly(spark, sf_dir)
        .select("wstart", "event_type", "n")
        .collect()
    }
    assert got == expected and len(got) > 0


def test_kafka_stream_options_shape():
    from golang_mapreduce_spark.streaming.jobs import kafka_stream_options

    opts = kafka_stream_options(
        "b1:9092,b2:9092", "events", max_offsets_per_trigger=100_000
    )
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "events"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "true"
    assert "maxOffsetsPerTrigger" not in kafka_stream_options("b:9092", "t")
