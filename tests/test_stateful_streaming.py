"""Cross-batch stateful sessionization: feed the events fixture as three
time-ordered files (three micro-batches), and check every session the
stateful operator emits against the batch gaps-and-islands computation.
This is the invariant that matters: per-key state survives micro-batch
boundaries and sessions close correctly by gap or event-time timeout."""

from __future__ import annotations

import tempfile
import uuid

import duckdb
import pandas as pd
import pytest

from golang_mapreduce_spark.sources.fixtures import normalize_events_ts
from golang_mapreduce_spark.streaming.jobs import (
    events_stream_schema,
    events_ts_layout,
)
from golang_mapreduce_spark.streaming.stateful import (
    SESSION_GAP_US,
    sessionize_with_state,
)

pytestmark = [pytest.mark.streaming, pytest.mark.python_udf]


def _batch_sessions(sf_dir: str) -> set[tuple]:
    rows = duckdb.sql(
        f"""
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_US // 60_000_000} MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM '{sf_dir}/events.parquet'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT user_id, ts, value,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT user_id, min(ts), max(ts), count(*)
        FROM numbered GROUP BY user_id, sid
        """
    ).fetchall()
    # truncate to ms: the stateful op works in epoch millis
    def ms(t):
        return pd.Timestamp(t).value // 1_000_000

    return {(u, ms(s), ms(e), n) for u, s, e, n in rows}


def test_stateful_sessionize_across_batches(spark, sf_dir):
    # split events into 3 time-ordered files => 3 micro-batches whose
    # watermark advances between batches
    events = spark.read.parquet(f"{sf_dir}/events.parquet").orderBy("ts")
    n = events.count()
    pdf = events.toPandas().sort_values("ts").reset_index(drop=True)
    src = tempfile.mkdtemp(prefix="gmrs_stream_src_")
    third = (n + 2) // 3
    for i in range(3):
        part = pdf.iloc[i * third : (i + 1) * third]
        part.to_parquet(f"{src}/chunk-{i}.parquet", index=False)

    ts_type = events_ts_layout(spark, f"{src}/chunk-0.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "sess_" + uuid.uuid4().hex[:8]
    q = (
        sessionize_with_state(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gmrs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).collect()

    assert len(got) > 0, "no sessions emitted across batches"
    expected = _batch_sessions(sf_dir)
    for r in got:
        key = (
            r["user_id"],
            int(pd.Timestamp(r["session_start"]).value // 1_000_000),
            int(pd.Timestamp(r["session_end"]).value // 1_000_000),
            r["n_events"],
        )
        assert key in expected, f"emitted session not in batch oracle: {key}"
    # emitted sessions must be unique (no double emission on re-batch)
    keys = [(r["user_id"], r["session_start"], r["session_end"]) for r in got]
    assert len(keys) == len(set(keys))


def test_streaming_pack_carries_bin_state_across_batches(spark, sf_dir):
    """The drained streaming pack must equal the batch pack (same greedy
    recurrence), and at least one bin must actually SPAN a micro-batch
    boundary — i.e. the (cur_bin, acc) state did real work; packing each
    batch independently from bin 0 would break this."""
    from golang_mapreduce_spark.operators.corpus import packed_sequences
    from golang_mapreduce_spark.streaming.jobs import streaming_packed_sequences

    got = {
        (r["doc_id"], r["lang"], r["n_toks"], r["bin_id"])
        for r in streaming_packed_sequences(spark, sf_dir).collect()
    }
    expected = {
        (r["doc_id"], r["lang"], r["n_toks"], r["bin_id"])
        for r in packed_sequences(spark, sf_dir).collect()
    }
    assert got == expected

    # reconstruct the doc_id-VALUE range cuts the query used (min/max
    # value thirds, the distributed split) and check some bin holds docs
    # on both sides of one
    doc_ids = sorted(d for d, _, _, _ in got)
    lo, hi = doc_ids[0], doc_ids[-1]
    boundaries = {lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3}
    by_bin: dict[tuple, list[int]] = {}
    for d, lang, _, b in got:
        by_bin.setdefault((lang, b), []).append(d)
    spans = any(
        any(mn <= bd < mx for bd in boundaries)
        for mn, mx in (
            (min(ds), max(ds)) for ds in by_bin.values() if len(ds) > 1
        )
    )
    assert spans, "no bin spans a micro-batch boundary; state carry untested"


def test_streaming_pack_is_split_invariant(spark, sf_dir):
    """The executor-side source builder's correctness rests on one
    claim: the drained output depends only on global doc_id order, not
    on WHERE the range cuts fall.  Pin it: 2-shard and 5-shard streams
    must both equal the batch pack (5 shards also exercises an
    uneven/possibly-empty range, since cuts are value thirds of a
    non-uniform doc_id spread)."""
    from golang_mapreduce_spark.operators.corpus import packed_sequences
    from golang_mapreduce_spark.streaming.jobs import streaming_packed_sequences

    expected = {
        (r["doc_id"], r["lang"], r["n_toks"], r["bin_id"])
        for r in packed_sequences(spark, sf_dir).collect()
    }
    for n_files in (2, 5):
        got = {
            (r["doc_id"], r["lang"], r["n_toks"], r["bin_id"])
            for r in streaming_packed_sequences(
                spark, sf_dir, n_files=n_files
            ).collect()
        }
        assert got == expected, f"split at n_files={n_files} changed the pack"


def test_streaming_pack_accepts_an_empty_corpus(spark, sf_dir, tmp_path):
    """The executor-side builder must not narrow the accepted input: an
    empty documents table (min/max agg returns NULLs) drains zero rows
    instead of raising — the pre-rewrite pandas splitter handled this."""
    from golang_mapreduce_spark.streaming.jobs import streaming_packed_sequences

    empty_dir = str(tmp_path / "empty_sf")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(0)
        .write.parquet(f"{empty_dir}/documents.parquet")
    )
    assert streaming_packed_sequences(spark, empty_dir).count() == 0


def test_stateful_sessionize_counts_most_sessions(spark, sf_dir):
    """The drained stream closes every session except at most one open
    session per user at stream end (availableNow stops before the final
    timeout batch for still-open state)."""
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    expected = _batch_sessions(sf_dir)
    # closed sessions >= total - one open per user
    assert len(expected) - n_users >= 1, "fixture too small for this test"
