"""Late-data semantics under watermarks, observable end-to-end: an event
arriving after the watermark has passed its window must be DROPPED (the
state operator reports numRowsDroppedByWatermark) and must not appear in
the drained aggregation — the late-data contract the reference's
single-round MR model cannot express at all.

Two semantics this test pins empirically:
* the watermark computed from batch N's data takes effect in batch N+1,
  so the late file is delivered as the THIRD micro-batch;
* only APPEND mode hard-filters late input (it must — finalized windows
  were already emitted); UPDATE mode only evicts state, and a very-late
  row can re-create its group (the documented one-directional guarantee:
  on-time data is definitely aggregated, too-late data is only *eligible*
  for dropping)."""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_mapreduce_spark.sources.fixtures import normalize_events_ts
from golang_mapreduce_spark.streaming.jobs import events_stream_schema

pytestmark = pytest.mark.streaming

US = 10**6
HOUR = 3600 * US
# hour-aligned base so 1-hour windows land on whole wall-clock hours
BASE = (1_700_000_000 // 3600 + 1) * 3600 * US


def _hour_of(offset_us: int) -> int:
    return dt.datetime.fromtimestamp((BASE + offset_us) // US, dt.UTC).hour


def _events_file(path: str, rows: list[tuple[int, int]]) -> None:
    """rows: (event_id, ts offset in us from BASE)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([(BASE + r[1]) * 1000 for r in rows], pa.int64()),
                "user_id": pa.array([7] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        path,
    )


def test_late_rows_dropped_and_counted(spark):
    src = tempfile.mkdtemp(prefix="gmrs_late_")
    # batch 0: 10:05 and 10:55 -> watermark candidate 10:45
    _events_file(f"{src}/00.parquet", [(1, 10 * HOUR + 5 * 60 * US),
                                       (2, 10 * HOUR + 55 * 60 * US)])
    # batch 1: on-time 11:30 (watermark 10:45 now effective; advances it)
    _events_file(f"{src}/01.parquet", [(3, 11 * HOUR + 30 * 60 * US)])
    # batch 2: LATE 09:00 (window [9,10) far behind the watermark) plus an
    # on-time 11:40
    _events_file(f"{src}/02.parquet", [(4, 9 * HOUR),
                                       (5, 11 * HOUR + 40 * 60 * US)])
    t0 = os.path.getmtime(f"{src}/00.parquet")
    for i, f in enumerate(sorted(os.listdir(src))):
        os.utime(os.path.join(src, f), (t0 + 10 * i, t0 + 10 * i))

    # these files are written in the legacy INT64-nanos layout above, so
    # this test doubles as coverage of normalize_events_ts's nanos branch
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(T.LongType()))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # append mode requires grouping on the watermarked window column
    # itself (projecting .start inside groupBy severs the watermark link)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )
    name = "late_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, f"late event must be dropped by watermark, got {dropped}"

    # append mode emits only watermark-finalized windows: the 10-o'clock
    # window (batch-0 events) finalizes once the watermark passes its
    # end; the 11-o'clock window is still open at drain end; the late
    # 9-o'clock window must not appear at all
    final = {r["wstart"].hour: r["n"] for r in spark.table(name).collect()}
    h9, h10 = _hour_of(9 * HOUR), _hour_of(10 * HOUR)
    assert h9 not in final, f"late event leaked into results: {final}"
    assert final == {h10: 2}, final
