"""Structured Streaming layer — incremental versions of the batch
operators.

The reference has no streaming at all (one M→R round per job, SURVEY.md
§2.4); Spark supplies incremental execution, state stores, and exactly-once
sinks.  The jobs here read the fixtures as a *file stream* and run the
batch operator's own transformation on it, so the drained table equals
the batch query: ``windows.hourly_counts`` and ``windows.session_counts``
(the window drains), ``pii.pii_source_rates``,
``textstats.quality_features``, ``textstats.cms_bucket_ids`` and
``textstats.hll_registers`` (the document drains), and
:func:`_purchase_click_join` (both stream-stream joins).  Watermarks bound
state.

Design at scale: the file source is a stand-in for Kafka — swap
``readStream.parquet`` for ``readStream.format("kafka")`` and everything
downstream is unchanged.  Watermark = max tolerated lateness; state store
size is (open windows × keys); ``availableNow`` drains a backlog with
bounded batches.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from functools import partial
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_mapreduce_spark.functions.hashing import sql_hash32
from golang_mapreduce_spark.functions.text import ws_words
from golang_mapreduce_spark.operators.corpus import PACKED_SEQUENCES_SQL
from golang_mapreduce_spark.operators.dedup import (
    BAND_STRUCT_EXPR,
    INCREMENTAL_TRIAGE_SQL,
    INGEST_MOD,
    INGEST_RES,
    MINHASH_EST_THRESHOLD,
    NUM_HASHES,
    _bands_from,
    _shingles,
    _signatures_from,
    minhash_pairs_sql,
    rowwise_hashes,
    rowwise_signature,
)
from golang_mapreduce_spark.operators.pii import PII_RATES_SQL, pii_source_rates
from golang_mapreduce_spark.operators.textstats import (
    CMS_ROWS,
    CMS_WIDTH,
    HLL_BUCKETS,
    HLL_RANK_CAP,
    QUALITY_SQL,
    cms_bucket_ids,
    hll_registers,
    quality_features,
)
from golang_mapreduce_spark.operators.windows import (
    SESSION_SQL,
    TUMBLING_SQL,
    hourly_counts,
    session_counts,
)
from golang_mapreduce_spark.session import ensure_session_invariants
from golang_mapreduce_spark.sources.fixtures import load_table, normalize_events_ts


def events_stream_schema(ts_type: T.DataType) -> T.StructType:
    """Explicit read schema for the events file stream.  ``ts_type``
    mirrors the file's physical layout (LongType for the INT64-nanos
    fixture generation, TimestampNTZType for the TIMESTAMP(MICROS) one);
    :func:`events_ts_layout` derives it from the footer."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_ts_layout(spark: SparkSession, events_path: str) -> T.DataType:
    """The stream-schema ts type matching the file's physical layout
    (one driver-side footer read; file streams need an explicit schema,
    so the batch reader's automatic inference can't help here).

    Returns the batch-inferred type VERBATIM rather than collapsing all
    non-Long layouts to TimestampNTZ (ADVICE r3): a future fixture
    generation shipping isAdjustedToUTC TIMESTAMP(MICROS) would
    batch-infer as TimestampType, and declaring NTZ against such a file
    would shift values by the session TZ.  normalize_events_ts casts
    any timestamp flavor to the session-TZ type downstream, so every
    layout converges on the same logical column."""
    return spark.read.parquet(events_path).schema["ts"].dataType


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, schema: T.StructType
) -> DataFrame:
    """File-source stream over one fixture table, in either layout: a
    Spark-written directory of part files (scalegen outputs) is the
    source path itself; a single ``{table}.parquet`` file is read as
    ``sf_dir`` filtered to that name, because the file source lists a
    directory and rejects a file path ("Option 'basePath' must be a
    directory")."""
    path = f"{sf_dir}/{table}.parquet"
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, ts normalized to the
    session-TZ timestamp type across fixture layouts."""
    ensure_session_invariants(spark, events=True)
    ts_type = events_ts_layout(spark, f"{sf_dir}/events.parquet")
    return normalize_events_ts(
        table_stream(spark, sf_dir, "events", events_stream_schema(ts_type))
    )


#: State-store partition count for drains whose streaming state is
#: BOUNDED BY CONSTRUCTION — sketch cells (4x1024 CMS, |sources|x256
#: HLL), per-source running aggregates, watermark-evicted window
#: counters.  The state-store partition count is fixed at the FIRST
#: micro-batch from ``spark.sql.shuffle.partitions``; sizing it to the
#: session default (the core count) gives every stateful operator
#: cores x operators x batches store open/commit cycles per drain for
#: state that fits in one task — measured at sf0.1: 32 -> 8 partitions
#: halves streaming_cms_cells (5.3 s -> 2.3 s) and
#: streaming_trending_topk (4.7 s -> 2.3 s) with byte-identical output
#: (aggregation results are partition-count independent).  This is a
#: STATE-SIZE decision, not a core-count one, so it is a constant,
#: never the local core count: at 100 TB these ops'
#: state is still a few thousand rows (that is the point of sketches /
#: per-source rollups), while ops whose state scales with users, corpus
#: or event rate (sessionization, dedup ledgers, stream-stream join
#: buffers) keep the session default — for them partition count IS the
#: parallelism (see stateful_sessionize's measured note).
#:
#: r17 second-scale A/B (VERDICT r16 item 8: is 8 under the sweet spot
#: at low core counts?) — same-session alternating, min-of-3/arm,
#: sf0.1: at local[32] {16,8,4}: cms 3.63/2.24/2.39, trending
#: 3.13/2.34/2.21, hll 3.11/1.53/2.40 — 8 is at/near the knee; at
#: local[8] {8,4,2}: cms 2.87/2.47/3.04, trending 3.68/2.91/2.11, hll
#: 3.49/2.40/1.77 — lower is mildly better but inside the host-stall
#: noise band.  8 stays: not under the sweet spot at either scale, and
#: the clamp (never above session parallelism) covers the rest.
BOUNDED_STATE_PARTITIONS = 8

#: serializes the shuffle-partition override window of bounded-state
#: drains (set -> start -> drain -> restore) so two concurrent drains
#: on one session cannot interleave set/restore (ADVICE r16)
_CONF_OVERRIDE_LOCK = threading.Lock()


def join_state_partitions(spark: SparkSession) -> int:
    """State-store partition count for STREAM-STREAM JOIN drains:
    a QUARTER of the session's shuffle parallelism, floor 1 (r17,
    VERDICT r16 item 1; guide §2.2/§5).

    Unlike the bounded-state drains (sketch cells — a constant), join
    buffer state is O(events inside the watermark window), so it must
    keep scaling with the cluster — hence a FRACTION of the session
    parallelism, not a constant.  The measured motivation: a
    stream-stream join opens 4 state stores per partition per
    micro-batch (two sides x two store families), so partition count
    multiplies store open/commit cycles.  Same-session alternating A/B
    at sf0.1 (local[32], min-of-3 per arm, OPTIMIZATION_r17.md):
    click_attribution 7.97 s @32 -> 4.58 @16 -> 2.75 @8 -> 2.40 @4 ->
    2.66 @2; unattributed 9.92 -> 6.57 -> 3.52 -> 2.86 -> 2.89 — the
    knee is at cores/8..cores/4 and flat below; cores/4 sits on the
    knee while keeping headroom for fatter watermark windows."""
    try:
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        base = spark.sparkContext.defaultParallelism
    return max(1, base // 4)


def drain_available_now(
    stream: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Run ``stream`` to completion with trigger(availableNow) — the one
    place the package starts a stream.  It owns the stream's checkpoint:
    a fresh driver-local temp dir, written through the FileSystem-API
    checkpoint file manager (pinned on the session first, see
    ``session.DEFAULT_CONF``: the default manager forks a ``readlink``
    per checkpoint rename on a local path), and deleted after the drain.
    A terminated query never reads its checkpoint again, and callers
    drain repeatedly, so leaked dirs would add up (ADVICE r2).

    Without ``foreach_batch`` the rows go to a memory sink and come back
    as a batch DataFrame.  The frame is resolved before the sink's temp
    view is dropped, so the drained rows stay reachable through it while
    the caller's catalog gains no view per drain.  With ``foreach_batch``
    each micro-batch goes to that function and the drain returns None."""
    ensure_session_invariants(spark, checkpoints=True)
    name = "s_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="gmrs_ckpt_")
    writer = (
        stream.writeStream.queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    try:
        writer.start().awaitTermination()
        return None if foreach_batch is not None else spark.table(name)
    finally:
        if foreach_batch is None:
            spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_to_batch(
    result: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming aggregation with trigger(availableNow) into an
    in-memory table through :func:`drain_available_now` and return it as
    a batch DataFrame.  ``complete`` output mode emits every window
    regardless of watermark position, so a fully-drained stream equals
    the batch query over the same files;
    ``append`` emits only watermark-finalized rows (the caller must
    advance the watermark past every real window, e.g. via sentinel
    files, for the drain to be total).

    ``state_partitions`` (pass :data:`BOUNDED_STATE_PARTITIONS`) caps
    the state-store partition count for bounded-state drains — note it
    lowers parallelism for EVERY shuffle in the drained query, not just
    the state store, which is why only queries whose *whole* micro-batch
    volume is sketch-sized opt in.  ``None`` leaves the session default
    untouched — required for state that scales with keys (sessions,
    dedup ledgers, join buffers).

    Thread-safety (ADVICE r16): the override window mutates the
    session-global ``spark.sql.shuffle.partitions`` from conf-set until
    restore, so concurrent bounded drains on one session are serialized
    by a module lock.  A plan built concurrently OUTSIDE this module
    (e.g. a batch query on another driver thread sharing the session)
    could still observe the temporary value — callers that overlap jobs
    from a thread pool must not overlap them with a bounded drain."""
    if state_partitions is None:
        return drain_available_now(result, spark, output_mode)
    conf_key = "spark.sql.shuffle.partitions"
    with _CONF_OVERRIDE_LOCK:
        old_parts = spark.conf.get(conf_key)
        try:
            # never RAISE parallelism above the session's (a driver
            # benching at 4 cores keeps 4); state partitioning is
            # fixed at the first micro-batch, so set before .start()
            spark.conf.set(
                conf_key, str(max(1, min(int(old_parts), state_partitions)))
            )
            return drain_available_now(result, spark, output_mode)
        finally:
            spark.conf.set(conf_key, old_parts)


def docs_stream_schema() -> T.StructType:
    """Explicit read schema for the documents file stream."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )


def streaming_pii_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII-rate audit executed through Structured Streaming — the
    shape a compliance pipeline actually runs: documents arrive as a
    file/Kafka stream, the regex detection is a stateless map on each
    micro-batch, and the per-source rates accumulate in streaming state
    (|sources| rows — bounded, no watermark needed for a keyed running
    aggregate).  Drained output must equal the batch pii_rates oracle.

    Scale: swap ``readStream.parquet`` for the Kafka source and nothing
    downstream changes; state is one row per source, and the regex work
    is codegen'd map-side: both run ``pii.pii_source_rates``."""
    docs = table_stream(spark, sf_dir, "documents", docs_stream_schema())
    return run_stream_to_batch(
        pii_source_rates(docs), spark, state_partitions=BOUNDED_STATE_PARTITIONS
    )


# --- driver-contract queries -------------------------------------------

def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling_hourly query executed through Structured Streaming
    end-to-end (file stream → stateful window agg → memory sink); its
    drained output must equal the batch oracle.  Complete mode emits
    every window on every trigger, so a watermark would bound nothing
    here; streaming_tumbling_append is the watermarked form."""
    events = read_events_stream(spark, sf_dir)
    return run_stream_to_batch(
        hourly_counts(events),
        spark,
        state_partitions=BOUNDED_STATE_PARTITIONS,
    )


#: Event times of the two watermark-advancing sentinels, in seconds:
#: 2100-01-01 and 2101-01-01 UTC, beyond any fixture timestamp at every
#: SF.
SENTINEL_TS = (4_102_444_800, 4_133_980_800)


def _write_event_sentinel(
    path: str, ts_sec: int, event_types: Sequence[str]
) -> None:
    """One far-future watermark-advancing event per entry of
    ``event_types`` (event_id -1, -2, ...; user_id -1), ts as
    TIMESTAMP(MICROS).  The sentinel source is read with its own schema,
    so this need not match the physical ts layout of the fixture it is
    unioned with."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(event_types)
    table = pa.table(
        {
            "event_id": pa.array([-1 - i for i in range(n)], pa.int64()),
            "ts": pa.array([ts_sec * 10**6] * n, pa.timestamp("us")),
            "user_id": pa.array([-1] * n, pa.int64()),
            "event_type": pa.array(list(event_types), pa.string()),
            "value": pa.array([0.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(table, path)


def _order_by_name(src: str) -> None:
    """Give the files in ``src`` mtimes 10 s apart in name order: the
    file source admits files oldest first, so the names fix which file
    lands in which micro-batch."""
    names = sorted(os.listdir(src))
    t0 = os.path.getmtime(os.path.join(src, names[0]))
    for i, f in enumerate(names):
        os.utime(os.path.join(src, f), (t0 + 10 * i, t0 + 10 * i))


@contextmanager
def _sentinel_source(
    spark: SparkSession,
    schema: T.StructType,
    sentinels: Sequence[Callable[[str], None]],
) -> Iterator[DataFrame]:
    """File stream over a temp dir that holds one file per ``sentinels``
    writer and nothing else, admitted one file per micro-batch in writer
    order.  Callers union it with a fixture table's :func:`table_stream`,
    which reads the table in place with no file limit, so micro-batch 1
    is every real file plus sentinel 1 and each later batch is one more
    sentinel: real rows never split across watermarked batches, where
    they could legitimately drop as late.  The directory is deleted on
    exit: a terminated drain never reads its source again, and its
    memory sink keeps the rows."""
    src = tempfile.mkdtemp(prefix="gmrs_sentinel_src_")
    try:
        for j, write in enumerate(sentinels):
            write(os.path.join(src, f"{j:02d}_sentinel.parquet"))
        _order_by_name(src)
        yield (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


@contextmanager
def _sentinel_events_stream(
    spark: SparkSession, sf_dir: str, event_types: Sequence[str]
) -> Iterator[DataFrame]:
    """Events file stream unioned with two sentinel files
    (:data:`SENTINEL_TS`, :func:`_sentinel_source`), so it drains in two
    micro-batches: all real files plus sentinel A, then sentinel B.  The
    watermark is computed at the END of a batch, so batch 1 leaves it
    far-future and batch 2 fires every timeout and emits every
    append-mode row of the real events against it.  Two batches is the
    floor: timeouts and emission always run against the PREVIOUS
    batch's watermark.  Each sentinel file holds one row per
    ``event_types`` entry, user_id -1, for callers to filter after the
    drain."""
    sentinels = [
        partial(_write_event_sentinel, ts_sec=ts, event_types=event_types)
        for ts in SENTINEL_TS
    ]
    schema = events_stream_schema(T.TimestampNTZType())
    with _sentinel_source(spark, schema, sentinels) as marks:
        yield read_events_stream(spark, sf_dir).unionByName(normalize_events_ts(marks))


def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom arbitrary-state sessionization (applyInPandasWithState),
    fully DRAINED: the events are followed by two far-future sentinel
    files, so the event-time watermark advances past every real
    session's last-event + gap and the state machine's timeouts flush
    ALL sessions — closed output therefore equals the batch
    gaps-and-islands oracle exactly (hash-checkable), not just the
    sessions closed by a subsequent event.

    Drain shape: the events stream is unioned with a sentinel source
    admitted one file per batch, so micro-batch 1 is all real files plus
    sentinel A and batch 2 is sentinel B, which fires every timeout
    (:func:`_sentinel_events_stream`).  (Measured at sf0.1: 2 batches at
    session-default partitions ≈ 8 s vs 3 batches ≈ 13 s; do NOT shrink
    shuffle partitions here — ~100k sessions flush through the Python
    state workers, so state-store partition count is the parallelism,
    not overhead.)

    Cross-batch state survival is additionally asserted in
    tests/test_stateful_streaming.py with the real events split across
    three micro-batches."""
    from golang_mapreduce_spark.streaming.stateful import sessionize_with_state

    with _sentinel_events_stream(spark, sf_dir, ("sentinel",)) as stream:
        out = drain_available_now(sessionize_with_state(stream), spark)
    return out.where(F.col("user_id") >= 0)


#: Batch gaps-and-islands equivalent of the drained stateful operator:
#: same strict-> gap rule as session_window (exact-gap events merge),
#: same DECIMAL(18,6) sum quantum as the state machine's integer
#: accumulator.
STATEFUL_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY user_id, session_id
"""


def _purchase_click_join(base: DataFrame, how: str) -> DataFrame:
    """Purchases joined to the same user's clicks within the preceding
    10 minutes, each leg watermarked at 30 minutes: the stream-stream
    join of streaming_click_attribution (``how="inner"``) and
    streaming_unattributed_purchases (``how="left_outer"``).  Both legs
    filter on event_type before their watermark."""
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
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
        how,
    )


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks, drained end-to-end:
    purchases joined to the same user's clicks within the preceding
    10 minutes.  Inner matches emit as both sides arrive — the
    watermarks only bound join state (each side buffers at most
    30 minutes of events), so the drained result equals the batch
    interval join exactly and the oracle is plain SQL.

    Scale: state is keyed by user and pruned by watermark; the join
    shuffles both streams on user_id once, identically to the batch
    plan, but with O(watermark window) memory instead of O(history).
    State-store partitions sized by :func:`join_state_partitions`
    (cores/4 — r17; a stream-stream join opens 4 store instances per
    partition per micro-batch, so the session default paid cores x 4
    open/commit cycles for watermark-bounded state)."""
    joined = _purchase_click_join(read_events_stream(spark, sf_dir), "inner").select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
    )

    return run_stream_to_batch(
        joined,
        spark,
        output_mode="append",
        state_partitions=join_state_partitions(spark),
    )


CLICK_ATTRIBUTION_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup over an at-least-once source, drained:
    the source directory holds the events TWICE (duplicate delivery,
    the failure mode S3-retry ingestion actually produces), read one copy
    per micro-batch so the dedup state must survive a batch boundary.
    ``withWatermark + dropDuplicates`` on (event_id, ts) keeps the first
    copy and bounds state: keys older than the watermark are evicted, and
    a duplicate arriving after eviction is discarded by the late-data
    filter instead — either path yields exactly one copy downstream.

    Summarized per event_type (count / distinct users / DECIMAL-exact
    value sum), so the drained result equals plain single-copy batch
    aggregation — the oracle never sees the duplication.

    Scale: state is hash-partitioned on the dedup key and bounded by the
    watermark horizon; this is the standard idempotent-ingest front of a
    streaming pipeline (reference analog: the at-least-once task retry +
    idempotent rename in worker.go:156,223 — same contract, record
    granularity instead of task granularity)."""
    path = f"{sf_dir}/events.parquet"
    ts_type = events_ts_layout(spark, path)
    parts = sorted(glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]
    # one copy of every part per micro-batch: the duplicate delivery is
    # the point, so unlike the sentinel drains this one stages a copy
    src = tempfile.mkdtemp(prefix="gmrs_events_src_")
    try:
        for c in range(2):
            for i, part in enumerate(parts):
                shutil.copy(part, os.path.join(src, f"{c}_{i:05d}_events.parquet"))
        _order_by_name(src)
        stream = normalize_events_ts(
            spark.readStream.schema(events_stream_schema(ts_type))
            .option("maxFilesPerTrigger", len(parts))
            .parquet(src)
        ).withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])
        out = drain_available_now(stream, spark)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
    )


STREAMING_DEDUP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY event_type
"""


def streaming_packed_sequences(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> DataFrame:
    """corpus.packed_sequences executed through Structured Streaming: the
    per-doc token counts are split into three doc_id-range files (three
    micro-batches at maxFilesPerTrigger=1, ordered by mtime), and a
    per-language (cur_bin, acc) state machine continues the greedy pack
    across batch boundaries.  Drained output equals the batch recursive-
    CTE oracle row-for-row — the cross-batch state carry is exactly the
    recurrence.

    Scale: the stream carries three longs + a language tag per doc (token
    counts are computed upstream, text never enters the stateful
    operator); state is two integers per language.  The ``n_files``-file
    TEST SOURCE (a stand-in for ordered Kafka partitions; default three)
    is built with
    executor-side ``df.write.parquet`` over doc_id-VALUE range thirds —
    only the 2-value min/max agg reaches the driver, so even the source
    synthesis is shard-writable at 100 TB (the r14 verdict's last
    driver-materialization residue).  The drained output is split-
    invariant: _pack_fn's recurrence depends only on global doc_id order,
    which increasing-range files consumed in mtime order preserve."""
    from golang_mapreduce_spark.streaming.stateful import pack_with_state

    sizes = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.size(ws_words("text")).cast("bigint").alias("n_toks"),
        )
        .persist()
    )
    src = tempfile.mkdtemp(prefix="gmrs_pack_src_")
    try:
        lo, hi = sizes.agg(F.min("doc_id"), F.max("doc_id")).first()
        if lo is None:
            # empty corpus: one empty shard keeps the drain well-formed
            # (the pre-rewrite pandas splitter accepted this input too)
            bounds = [(None, None)]
        else:
            cuts = [lo + i * (hi - lo) // n_files for i in range(1, n_files)]
            edges = [None, *cuts, None]
            bounds = list(zip(edges[:-1], edges[1:]))
        for i, (a, b) in enumerate(bounds):
            part = sizes
            if a is not None:
                part = part.filter(F.col("doc_id") > a)
            if b is not None:
                part = part.filter(F.col("doc_id") <= b)
            stage = os.path.join(src, f"_stage_{i}")
            part.coalesce(1).write.parquet(stage)
            (pf,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
            os.replace(
                os.path.join(stage, pf), os.path.join(src, f"{i:02d}_sizes.parquet")
            )
            shutil.rmtree(stage, ignore_errors=True)
        _order_by_name(src)
        stream = (
            spark.readStream.schema("doc_id bigint, lang string, n_toks bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = drain_available_now(pack_with_state(stream), spark)
    finally:
        sizes.unpersist()
        shutil.rmtree(src, ignore_errors=True)
    return out


def kafka_stream_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """Kafka source config surface — the production swap-in for the file
    source used throughout this module (no broker in this container, so
    this is option assembly + the documented wiring, same treatment as
    ``session.s3a_conf``).

    Usage::

        raw = (spark.readStream.format("kafka")
               .options(**kafka_stream_options("broker:9092", "events"))
               .load())
        events = raw.select(
            F.from_json(F.col("value").cast("string"),
                        events_stream_schema(T.TimestampNTZType()))
            .alias("e")).select("e.*")

    then every downstream operator (watermarks, windows, sessionization,
    stream-stream joins) is unchanged.  ``maxOffsetsPerTrigger`` is the
    backpressure knob — it bounds micro-batch size the way
    ``maxFilesPerTrigger`` does for the file source; offsets are tracked
    in the checkpoint, giving the same exactly-once recovery contract.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def streaming_incremental_triage(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Continuous-crawl ingest triage as a STREAMING job — the
    production shape of dedup_incremental_triage: incoming documents
    arrive on a stream, and every probe against the base corpus is a
    STREAM-STATIC join (exact: md5 → base hash table; near: stateless
    per-row MinHash signature → band explode → collision join with the
    base's band table → est-Jaccard filter against the base's stored
    signatures).  No text aggregation happens in streaming state: the
    signature is the shuffle-free per-row form
    (dedup.rowwise_signature — identical values to the batch explode +
    groupBy form), so the only stateful operator is the final per-doc
    verdict fold (MIN of matched partners), whose state is one row per
    incoming-batch document — bounded by the ingest batch, the unit
    production admission actually works in.

    Drained output must equal the batch triage oracle exactly.  With
    ``base_dir`` set (VERDICT r6 #4), the static side IS the
    materialized base written by dedup.materialize_dedup_base — the
    base corpus's text is never read at all (plan-asserted in
    tests/test_streaming_triage.py), which is the production shape:
    per ingest batch, only the batch is scanned/shingled.  Swap the
    file source for Kafka and nothing downstream changes."""
    return run_stream_to_batch(
        _streaming_triage_frame(spark, sf_dir, base_dir), spark
    )


def _triage_base_relations(
    spark: SparkSession, sf_dir: str, base_dir: str | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Static base side of the ingest triage: (base_hash, base_bands,
    base_sig_p) — read from the stored materialize_dedup_base tables
    when ``base_dir`` is given, else derived from the corpus scan so
    the oracle can replay it."""
    if base_dir is not None:
        base_hash = spark.read.parquet(f"{base_dir}/base_hash")
        base_sig = spark.read.parquet(f"{base_dir}/base_sig")
    else:
        is_inc = F.col("doc_id") % INGEST_MOD == INGEST_RES
        base = load_table(spark, sf_dir, "documents").where(~is_inc)
        base_hash = (
            base.select(F.md5(F.lower(F.trim("text"))).alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("exact_match"))
        )
        base_sig = _signatures_from(base).select(
            "doc_id", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig")
        )
    base_bands = _bands_from(base_sig).select(
        F.col("doc_id").alias("partner"), "band", "bkey"
    )
    base_sig_p = base_sig.select(
        F.col("doc_id").alias("partner"), F.col("sig").alias("sig_b")
    )
    return base_hash, base_bands, base_sig_p


def _triage_probe_rows(
    incoming: DataFrame,
    base_hash: DataFrame,
    base_bands: DataFrame,
    base_sig_p: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """STATELESS exact+near probes of an incoming (doc_id, text, ...)
    relation against the base tables; returns (doc_id, *carry,
    exact_match, near_partner) rows ready for the per-doc verdict fold.
    Works identically on a batch or streaming ``incoming`` — both
    drained forms and the watermarked append form share it, so the
    probe semantics cannot drift."""
    carry_cols = list(carry)
    inc = incoming.select(
        "doc_id",
        *carry_cols,
        F.md5(F.lower(F.trim("text"))).alias("h"),
        ws_words("text").alias("toks"),
    )
    # branch E: every incoming doc probes the exact-hash table
    null_id = F.lit(None).cast("long")
    exact_rows = inc.join(base_hash, "h", "left").select(
        "doc_id", *carry_cols, "exact_match", null_id.alias("near_partner")
    )
    # branch N: stateless signature → bands → collision join → est filter
    inc_sig = (
        inc.where(F.size("toks") >= 3)
        .select("doc_id", *carry_cols, _shingles(3).alias("sh"))
        .select("doc_id", *carry_cols, rowwise_hashes("sh").alias("hs"))
        .select("doc_id", *carry_cols, rowwise_signature("hs").alias("sig"))
    )
    inc_bands = inc_sig.select(
        "doc_id", *carry_cols, "sig", F.explode(F.expr(BAND_STRUCT_EXPR)).alias("bk")
    ).select(
        "doc_id",
        *carry_cols,
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    est = (
        F.expr("size(filter(zip_with(sig, sig_b, (x, y) -> x = y), v -> v))")
        / F.lit(float(NUM_HASHES))
    )
    near_rows = (
        inc_bands.join(base_bands, ["band", "bkey"])
        .join(base_sig_p, "partner")
        .where(est >= MINHASH_EST_THRESHOLD)
        .select(
            "doc_id",
            *carry_cols,
            null_id.alias("exact_match"),
            F.col("partner").alias("near_partner"),
        )
    )
    return exact_rows.unionByName(near_rows)


def _triage_verdict(folded: DataFrame) -> DataFrame:
    """(doc_id, exact_match, near_match) → the verdict table both
    triage output modes emit (precedence exact > near > novel)."""
    return folded.select(
        "doc_id",
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("novel")
        .alias("verdict"),
        F.coalesce("exact_match", "near_match").alias("match_doc_id"),
    )


def _streaming_triage_frame(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """The un-drained streaming frame behind
    :func:`streaming_incremental_triage` — exposed so tests can audit
    the pre-execution plan (base text never scanned)."""
    base_hash, base_bands, base_sig_p = _triage_base_relations(
        spark, sf_dir, base_dir
    )
    stream = table_stream(spark, sf_dir, "documents", docs_stream_schema()).where(
        F.col("doc_id") % INGEST_MOD == INGEST_RES
    )
    rows = _triage_probe_rows(stream, base_hash, base_bands, base_sig_p)
    return _triage_verdict(
        rows.groupBy("doc_id").agg(
            F.min("exact_match").alias("exact_match"),
            F.min("near_partner").alias("near_match"),
        )
    )


#: synthetic event-time epoch for the append-mode triage (fixture docs
#: have no crawl timestamp; production uses the real one).
TRIAGE_TS_BASE = 1_700_000_000
#: sentinel doc ids (must be ≡ INGEST_RES mod INGEST_MOD to pass the
#: ingest filter; far above every real doc id so their event-time is
#: far-future — ~year 2100, matching the sessionize sentinel convention)
_TRIAGE_SENTINELS = (2_400_000_007, 2_431_536_007)


def _write_doc_sentinel(path: str, doc_id: int) -> None:
    """One watermark-advancing document in the fixture schema (its huge
    doc_id maps to a far-future synthetic event-time)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([doc_id], pa.int64()),
                "text": pa.array(["__watermark_sentinel__"], pa.string()),
                "lang": pa.array(["xx"], pa.string()),
                "source": pa.array(["sentinel"], pa.string()),
                "n_chars": pa.array([0], pa.int64()),
            }
        ),
        path,
    )


def _append_triage_frame(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """Un-drained watermarked append-mode triage over a documents
    stream: the shared stateless probes carrying a synthetic event-time,
    folded per (1-hour window, doc_id) under a 10-minute watermark.
    Exposed so the late-data test can drive its own file sequence
    batch-by-batch."""
    base_hash, base_bands, base_sig_p = _triage_base_relations(spark, sf_dir, None)
    stream = docs.where(F.col("doc_id") % INGEST_MOD == INGEST_RES).withColumn(
        "ts", F.timestamp_seconds(F.lit(TRIAGE_TS_BASE) + F.col("doc_id"))
    )
    rows = _triage_probe_rows(
        stream, base_hash, base_bands, base_sig_p, carry=("ts",)
    )
    folded = (
        rows.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), F.col("doc_id"))
        .agg(
            F.min("exact_match").alias("exact_match"),
            F.min("near_partner").alias("near_match"),
        )
    )
    return _triage_verdict(folded)


def streaming_triage_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest triage in watermarked APPEND mode (VERDICT r6 #6):
    per-batch verdict emission — each document's verdict row is emitted
    exactly once, when the watermark passes its event-time window,
    instead of restating the whole table per batch as the
    ``complete``-mode form does.  This is the production emission shape
    (downstream admission consumes a verdict LOG, not a snapshot) and
    the only form with a late-data contract: a document arriving after
    the watermark passed its window is dropped, observable via
    numRowsDroppedByWatermark (tests/test_streaming_triage.py).

    Probes are the SAME stateless stream-static joins as the drained
    form (_triage_probe_rows is shared code), carrying a synthetic
    event-time (TRIAGE_TS_BASE + doc_id seconds — production: crawl
    time); the fold runs per (1-hour window, doc_id) under a 10-minute
    watermark, so state is bounded by in-flight windows, not corpus
    size.  The drain unions the documents stream with two far-future
    sentinel docs admitted one per micro-batch (:func:`_sentinel_source`):
    batch 1 is every real doc plus sentinel A, whose batch-end watermark
    is already far-future, so batch 2 (sentinel B) emits every real
    window and the log equals the batch triage oracle exactly.

    Scale: swap the file source for Kafka and the synthetic ts for the
    ingest timestamp; state per trigger is one row per in-flight-window
    doc, evicted on watermark passage."""
    sentinels = [partial(_write_doc_sentinel, doc_id=d) for d in _TRIAGE_SENTINELS]
    schema = docs_stream_schema()
    with _sentinel_source(spark, schema, sentinels) as marks:
        docs = table_stream(spark, sf_dir, "documents", schema).unionByName(marks)
        out = run_stream_to_batch(
            _append_triage_frame(spark, sf_dir, docs), spark, output_mode="append"
        )
    return out.where(F.col("doc_id") < min(_TRIAGE_SENTINELS))


def streaming_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-hourly aggregation in watermarked APPEND mode — the
    metrics-LOG emission shape (each finalized window row written
    exactly once when the watermark passes it) next to
    streaming_tumbling_hourly's complete-mode snapshot; downstream
    time-series stores consume exactly this log.  Drain follows the
    stateful_sessionize sentinel pattern: the events stream unioned with
    a one-file-per-batch sentinel source puts [events, sentinel A] in
    micro-batch 1, which computes a far-future watermark at batch end,
    and batch 2 (sentinel B) emits every real window — so the finalized
    log equals the batch tumbling oracle exactly, sentinel windows
    filtered out.

    Scale: state is one row per open (window, event_type), evicted on
    watermark passage — O(open windows x types), not O(history); swap
    the file source for Kafka and nothing downstream changes.  The
    late-data contract matches streaming_triage_append's measured
    semantics (drop past the two-batch-lagged watermark, counted in
    numRowsDroppedByWatermark)."""
    with _sentinel_events_stream(spark, sf_dir, ("sentinel",)) as stream:
        out = run_stream_to_batch(
            hourly_counts(stream.withWatermark("ts", "10 minutes")),
            spark,
            output_mode="append",
            state_partitions=BOUNDED_STATE_PARTITIONS,
        )
    return out.where(F.col("event_type") != "sentinel")


def streaming_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window) through Structured
    Streaming in watermarked APPEND mode — the engine-managed sibling
    of stateful_sessionize's hand-rolled applyInPandasWithState state
    machine: Spark merges/extends open sessions in the state store and
    emits each one exactly once when the watermark passes its close.
    Together the two forms cover both ways production builds session
    logs: custom state when the fold needs arbitrary logic, native
    session_window when gap semantics suffice (no Python in the loop —
    the whole pipeline stays JVM-side codegen).

    Drain: the sessionize sentinel pattern (the events stream unioned
    with two far-future events admitted one per micro-batch, so batch 1
    is all real files plus sentinel A) finalizes every real session, so
    the emitted log equals the batch session_windows_30m oracle exactly;
    sentinel rows (user_id < 0) are filtered after the drain.  State is
    one row per OPEN session, evicted on emission — O(active users),
    never O(history)."""
    with _sentinel_events_stream(spark, sf_dir, ("sentinel",)) as stream:
        out = run_stream_to_batch(
            session_counts(stream.withWatermark("ts", "10 minutes")),
            spark,
            output_mode="append",
        )
    return out.where(F.col("user_id") >= 0)


TRENDING_TOP = 5


def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly trending-items log: per-window click counts for the typed
    ``props.k`` item stream out in watermarked APPEND mode (each
    finalized (window, item) row emitted exactly once — the
    tumbling-append metrics-log shape), and the top-{TRENDING_TOP}
    ranking per window runs BATCH-side over the drained log — exactly
    how a trending dashboard consumes a metrics store: streaming owns
    the counting state, the rank is a cheap readout of the emitted log
    (never streaming state, which would need complete mode's unbounded
    retention).

    Drain: the sessionize sentinel pattern (the events stream unioned
    with two far-future events admitted one per micro-batch, so batch 1
    is all real files plus sentinel A); sentinel rows carry props '{}'
    so their item parses NULL and the post-drain filter drops them.
    State is one row per open (window, item) — O(open windows × item
    vocab), evicted on watermark passage; swap the file source for Kafka
    and nothing downstream changes."""
    with _sentinel_events_stream(spark, sf_dir, ("sentinel",)) as stream:
        # NO pre-aggregation row filter: Catalyst pushes filters through
        # the EventTimeWatermark node, so a click-only filter would drop
        # the sentinel rows BEFORE they advance the watermark and the
        # last real window would never finalize (caught by the sf0.01
        # parity diff — one missing window).  Instead non-click rows
        # (sentinels included) fold into a NULL-item group per window
        # and are dropped after the drain.
        items = stream.withWatermark("ts", "10 minutes").select(
            "ts",
            F.when(
                F.col("event_type") == "click",
                F.get_json_object("props", "$.k").cast("bigint"),
            ).alias("item"),
        )
        agg = items.groupBy(F.window("ts", "1 hour").alias("w"), "item").agg(
            F.count("*").alias("n_clicks")
        )
        log = run_stream_to_batch(
            agg,
            spark,
            output_mode="append",
            state_partitions=BOUNDED_STATE_PARTITIONS,
        )
    log = log.where(F.col("item").isNotNull())
    from pyspark.sql.window import Window

    rank_w = Window.partitionBy("wstart").orderBy(
        F.desc("n_clicks"), F.asc("item")
    )
    return (
        log.select(F.col("w.start").alias("wstart"), "item", "n_clicks")
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= TRENDING_TOP)
        .select(
            "wstart",
            F.col("rank").cast("int").alias("rank"),
            "item",
            F.col("n_clicks").cast("bigint").alias("n_clicks"),
        )
    )


TRENDING_TOPK_SQL = f"""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS wstart,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         COUNT(*) AS n_clicks
  FROM events
  WHERE event_type = 'click'
        AND json_extract_string(props, '$.k') IS NOT NULL
  GROUP BY 1, 2
)
SELECT wstart,
       CAST(rank AS INT) AS rank,
       item,
       CAST(n_clicks AS BIGINT) AS n_clicks
FROM (
  SELECT wstart, item, n_clicks,
         ROW_NUMBER() OVER (PARTITION BY wstart
                            ORDER BY n_clicks DESC, item) AS rank
  FROM counts
)
WHERE rank <= {TRENDING_TOP}
"""


def streaming_unattributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join with watermarks: purchases that had
    NO click from the same user in the preceding 10 minutes — the
    conversion-gap log (paid-traffic attribution's complement), and the
    outer-join capability streaming_click_attribution's inner form
    doesn't exercise: Spark must hold each purchase in state until the
    CLICK side's watermark proves no match can still arrive, then emit
    the null-padded row exactly once.  That late-emission contract is
    the whole difficulty of outer stream-stream joins; the drained
    result equals the batch NOT EXISTS anti-join (the oracle).

    Drain: the sentinel pattern, but with TYPED sentinels — both join
    legs filter on event_type before their watermark, and a
    type='sentinel' row would be filtered out before reaching either
    leg's watermark tracker, so each sentinel file holds one far-future
    'click' and one far-future 'purchase'.  The sentinel source is
    unioned with the events stream and admitted one file per batch, so
    batch 1 is every real event plus sentinel A and batch 2's batch-end
    watermark finalizes every real purchase.  Sentinel rows (user_id<0)
    are filtered after the drain.

    Scale: state is bounded by the watermark windows on both sides
    (each leg buffers at most 30 minutes of events), keyed and shuffled
    on user_id exactly like the inner join; Kafka's live watermark
    replaces the sentinel artifact with nothing else changing."""
    with _sentinel_events_stream(spark, sf_dir, ("click", "purchase")) as base:
        # state stores sized by join_state_partitions (cores/4 — r17,
        # same rationale as streaming_click_attribution)
        out = run_stream_to_batch(
            _purchase_click_join(base, "left_outer"),
            spark,
            output_mode="append",
            state_partitions=join_state_partitions(spark),
        )
    return (
        out.where(F.col("click_id").isNull() & (F.col("user_id") >= 0))
        .select("user_id", "purchase_id", "purchase_ts")
    )


UNATTRIBUTED_PURCHASES_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL 10 MINUTE
  )
"""


def streaming_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-quality rates computed through Structured
    Streaming — the live dashboard a continuous-ingest pipeline watches
    next to the PII audit: documents arrive as a file/Kafka stream, the
    quality features are the SAME stateless per-row expressions the
    batch operator uses (textstats.quality_features — nothing is
    duplicated, so the two surfaces can't drift), and the per-source
    rollup accumulates in |sources|-row streaming state.  Drained
    output must equal the batch aggregate oracle exactly.

    Scale: stateless map + one keyed running aggregate of bounded
    cardinality; swap the file source for Kafka and nothing downstream
    changes."""
    docs = table_stream(spark, sf_dir, "documents", docs_stream_schema())
    q = quality_features(docs, keep=("source",))
    agg = q.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr(
            "round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("avg_quality"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )
    return run_stream_to_batch(agg, spark, state_partitions=BOUNDED_STATE_PARTITIONS)


def streaming_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch cells maintained INCREMENTALLY over the document
    stream — the mergeable-sketch ingestion shape: each micro-batch's
    token occurrences fold into the 4x1024 running cell counts (bounded
    streaming state regardless of vocabulary size), and the drained
    cells are value-identical to the batch sketch
    (textstats.cms_heavy_hitters builds the same cells
    map-side-combine style), so the oracle is the batch cell relation.
    This is how a live pipeline keeps heavy-hitter frequencies current
    without ever shuffling a token relation.

    Scale: stateless explode + hash per row, one keyed running
    aggregate of FIXED cardinality (4x1024 BIGINTs) — the smallest
    possible streaming state for a frequency structure; Kafka swap-in
    changes nothing downstream.  The bucket ids are the batch sketch's
    (``textstats.cms_bucket_ids``); the aggregation differs, because the
    batch sketch sums per-token partial counts and a complete-mode
    stream cannot chain two aggregations."""
    docs = table_stream(spark, sf_dir, "documents", docs_stream_schema())
    toks = docs.select(F.explode(ws_words("text")).alias("tok"))
    buckets = toks.select(F.posexplode(cms_bucket_ids()).alias("row_i", "bucket"))
    cells = buckets.groupBy("row_i", "bucket").agg(
        F.count("*").cast("bigint").alias("cell_n")
    )
    return run_stream_to_batch(cells, spark, state_partitions=BOUNDED_STATE_PARTITIONS)


def _streaming_cms_oracle() -> str:
    rows = "\n  UNION ALL ".join(
        "SELECT {i} AS row_i, ({h} % {w}) AS bucket FROM toks".format(
            i=i, w=CMS_WIDTH, h=sql_hash32("tok || '#cms{}'".format(i))
        )
        for i in range(CMS_ROWS)
    )
    return """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
buckets AS (
  {rows}
)
SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS cell_n
FROM buckets GROUP BY row_i, bucket
""".format(rows=rows)


def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers maintained INCREMENTALLY over the document
    stream — the streaming half of hll_distinct_by_source: per (source,
    bucket), the running MAX leading-zero rank.  MAX is the canonical
    streaming-friendly aggregate (monotone, mergeable), so state is
    bounded at |sources| x 256 register rows no matter how many tokens
    flow; the drained registers equal the batch sketch's register
    relation, which is therefore the oracle.  Together with
    streaming_cms_cells this completes the mergeable-sketch pair in
    BOTH execution modes: a live pipeline keeps per-source vocabulary
    cardinalities current at fixed memory, and a nightly batch job can
    merge its registers element-wise with these.

    Scale: stateless explode + hash per row, one keyed running MAX of
    fixed cardinality; Kafka swap-in changes nothing downstream.  Both
    modes build the registers with ``textstats.hll_registers``."""
    docs = table_stream(spark, sf_dir, "documents", docs_stream_schema())
    toks = docs.select("source", F.explode(ws_words("text")).alias("tok"))
    return run_stream_to_batch(
        hll_registers(toks), spark, state_partitions=BOUNDED_STATE_PARTITIONS
    )


def _streaming_hll_oracle() -> str:
    return """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT source, {h32} AS h FROM toks
)
SELECT source, CAST(h % {m} AS INT) AS bucket,
       CAST(MAX(CASE WHEN h // {m} = 0 THEN {cap}
                     ELSE {cap} - length(printf('%b', h // {m})) END) AS INT)
         AS m
FROM hashed GROUP BY source, h % {m}
""".format(h32=sql_hash32("tok"), m=HLL_BUCKETS, cap=HLL_RANK_CAP)


def streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed-snapshot sink — the production MERGE pattern:
    the event stream drains in TWO micro-batches (events staged as two
    half files), and each batch UPSERTS into a per-user latest-event
    snapshot on disk; batch 2's merge must overwrite batch 1's rows for
    users who acted again.  Exactly-once comes from the idempotent
    versioned write: each batch writes snapshot version v{batch_id}
    derived from v{batch_id-1} + the batch, so a RETRIED batch
    overwrites its own output instead of double-applying (the
    foreachBatch contract; Delta/Iceberg MERGE INTO is this operator
    with a transaction log).

    The drained snapshot equals the batch last-writer-wins query — per
    user, the latest event by (ts, event_id) — so the oracle is plain
    SQL over events.

    Scale: each merge shuffles (old snapshot ∪ batch) on user_id — at
    100 TB the snapshot is bucketed on user_id so its side needs no
    re-shuffle, and versions are table-format snapshots instead of
    directories; per-batch cost is O(batch + touched partitions), never
    O(history replayed)."""
    from pyspark.sql.window import Window

    ensure_session_invariants(spark, events=True)
    src = tempfile.mkdtemp(prefix="gmrs_upsert_src_")
    snap_root = tempfile.mkdtemp(prefix="gmrs_snap_")
    halves = tempfile.mkdtemp(prefix="gmrs_halves_")
    state: dict = {"latest": None}
    try:
        events_batch = normalize_events_ts(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        )
        for i in (0, 1):
            events_batch.where(F.col("event_id") % 2 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{halves}/h{i}")
            part = sorted(glob(f"{halves}/h{i}/part-*.parquet"))[0]
            shutil.copy(part, os.path.join(src, f"0{i}_events.parquet"))

        ts_type = events_ts_layout(spark, os.path.join(src, "00_events.parquet"))
        stream = normalize_events_ts(
            spark.readStream.schema(events_stream_schema(ts_type))
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def merge(batch_df, batch_id: int) -> None:
            w = Window.partitionBy("user_id").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
            incoming = batch_df.select(
                "user_id", "ts", "event_id", "event_type", "value"
            )
            if state["latest"] is not None:
                incoming = spark.read.parquet(state["latest"]).unionByName(incoming)
            merged = (
                incoming.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            out = os.path.join(snap_root, f"v{batch_id}")
            merged.write.mode("overwrite").parquet(out)  # idempotent on retry
            state["latest"] = out

        drain_available_now(stream, spark, foreach_batch=merge)
        assert state["latest"] is not None
        # materialize into executor blocks (lineage cut) before the temp
        # snapshot dir vanishes — never a driver-side collect; the
        # blocks are ContextCleaner-reclaimed when the caller drops the
        # result (the neardup_pagerank checkpoint lifecycle)
        snap = spark.read.parquet(state["latest"]).localCheckpoint(eager=True)
        return snap.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(halves, ignore_errors=True)
        shutil.rmtree(snap_root, ignore_errors=True)


STREAMING_UPSERT_SQL = """
SELECT user_id,
       ts AS last_ts,
       event_id AS last_event_id,
       event_type AS last_type,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def _streaming_quality_oracle() -> str:
    return f"""
WITH q AS (
  {QUALITY_SQL.strip()}
)
SELECT d.source,
       COUNT(*) AS n_docs,
       round(CAST(SUM(CAST(q.quality_score AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_quality,
       MIN(q.quality_score) AS min_quality,
       MAX(q.quality_score) AS max_quality
FROM documents d JOIN q USING (doc_id)
GROUP BY d.source
"""


def _streaming_triage_oracle() -> str:
    return INCREMENTAL_TRIAGE_SQL.format(PAIRS=minhash_pairs_sql("documents").strip())


QUERIES = {
    "streaming_tumbling_hourly": streaming_tumbling_hourly,
    "streaming_tumbling_append": streaming_tumbling_append,
    "streaming_session_append": streaming_session_append,
    "streaming_trending_topk": streaming_trending_topk,
    "stateful_sessionize": stateful_sessionize,
    "streaming_click_attribution": streaming_click_attribution,
    "streaming_unattributed_purchases": streaming_unattributed_purchases,
    "streaming_dedup": streaming_dedup,
    "streaming_packed_sequences": streaming_packed_sequences,
    "streaming_pii_rates": streaming_pii_rates,
    "streaming_incremental_triage": streaming_incremental_triage,
    "streaming_triage_append": streaming_triage_append,
    "streaming_quality_monitor": streaming_quality_monitor,
    "streaming_cms_cells": streaming_cms_cells,
    "streaming_upsert_snapshot": streaming_upsert_snapshot,
    "streaming_hll_registers": streaming_hll_registers,
}
ORACLES = {
    "streaming_tumbling_hourly": TUMBLING_SQL,
    # the finalized append-mode log equals the same batch tumbling
    # table — one oracle certifies both output modes
    "streaming_tumbling_append": TUMBLING_SQL,
    # the finalized native-session log equals the batch session table
    "streaming_session_append": SESSION_SQL,
    # the finalized trending log's batch-side rank equals the same
    # window-ranked batch table
    "streaming_trending_topk": TRENDING_TOPK_SQL,
    "stateful_sessionize": STATEFUL_SESSION_SQL,
    "streaming_click_attribution": CLICK_ATTRIBUTION_SQL,
    "streaming_unattributed_purchases": UNATTRIBUTED_PURCHASES_SQL,
    "streaming_dedup": STREAMING_DEDUP_SQL,
    "streaming_packed_sequences": PACKED_SEQUENCES_SQL,
    "streaming_pii_rates": PII_RATES_SQL,
    "streaming_incremental_triage": _streaming_triage_oracle(),
    # the append-mode emission log, fully finalized, equals the same
    # batch triage table — one oracle certifies both output modes
    "streaming_triage_append": _streaming_triage_oracle(),
    "streaming_quality_monitor": _streaming_quality_oracle(),
    # drained incremental sketch cells equal the batch CMS cells
    "streaming_cms_cells": _streaming_cms_oracle(),
    # the final foreachBatch snapshot equals batch last-writer-wins
    "streaming_upsert_snapshot": STREAMING_UPSERT_SQL,
    # drained incremental registers equal the batch HLL register relation
    "streaming_hll_registers": _streaming_hll_oracle(),
}
