"""Streaming ingest triage: the stateless per-row MinHash signature
must equal the batch explode+groupBy form value-for-value, and the
drained stream-static triage must equal the batch triage verdicts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.streaming


def test_rowwise_signature_equals_batch_signatures(spark, sf_dir):
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.operators.dedup import (
        NUM_HASHES,
        _shingles,
        _signatures_from,
        rowwise_hashes,
        rowwise_signature,
    )
    from golang_mapreduce_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = {
        r["doc_id"]: tuple(r["sig"])
        for r in _signatures_from(docs)
        .select(
            "doc_id",
            F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig"),
        )
        .collect()
    }
    rowwise = {
        r["doc_id"]: tuple(r["sig"]) if r["sig"] is not None else None
        for r in docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", _shingles(3).alias("sh"))
        .select("doc_id", rowwise_hashes("sh").alias("hs"))
        .select("doc_id", rowwise_signature("hs").alias("sig"))
        .collect()
    }
    assert batch == rowwise
    assert len(batch) > 0


def test_streaming_triage_equals_batch_triage(spark, sf_dir):
    from golang_mapreduce_spark.operators.dedup import dedup_incremental_triage
    from golang_mapreduce_spark.streaming.jobs import streaming_incremental_triage

    batch = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in dedup_incremental_triage(spark, sf_dir).collect()
    }
    streamed = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in streaming_incremental_triage(spark, sf_dir).collect()
    }
    assert batch == streamed
    assert len(batch) > 0
    spark.catalog.clearCache()


def test_streaming_triage_from_materialized_base(spark, sf_dir):
    """VERDICT r6 #4: the streaming triage parameterized on a
    materialize_dedup_base directory must (a) produce verdicts
    identical to the batch triage, and (b) never touch the base
    corpus's text — every scan of the raw documents table in its plan
    carries the incoming-slice pushdown, and the base side comes from
    the stored base_hash/base_sig parquet tables."""
    import re
    import tempfile

    from golang_mapreduce_spark.operators.dedup import (
        dedup_incremental_triage,
        materialize_dedup_base,
    )
    from golang_mapreduce_spark.streaming.jobs import streaming_incremental_triage

    # short path: plan strings truncate Location fields (~100 chars)
    base_dir = tempfile.mkdtemp(prefix="gmrs_sb_") + "/b"
    materialize_dedup_base(spark, sf_dir, base_dir)

    batch = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in dedup_incremental_triage(spark, sf_dir).collect()
    }
    result = streaming_incremental_triage(spark, sf_dir, base_dir=base_dir)
    streamed = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"]) for r in result.collect()
    }
    assert batch == streamed
    assert len(batch) > 0

    # plan audit on the pre-drain streaming frame (analyzed plan — the
    # optimizer refuses un-started streams): the ONLY source carrying
    # the text column is the incoming STREAM, filtered to the ingest
    # slice; the base side is exactly the two stored parquet tables
    # (h/exact_match and doc_id/sig schemas), so base text is
    # structurally unreachable.
    from golang_mapreduce_spark.streaming.jobs import _streaming_triage_frame

    plan = (
        _streaming_triage_frame(spark, sf_dir, base_dir=base_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    batch_rels = [
        ln for ln in plan.splitlines() if re.search(r"\bRelation \[.*\] parquet", ln)
    ]
    assert len(batch_rels) >= 2  # base_hash + base_sig (reused subtrees may repeat)
    assert not any("text#" in ln for ln in batch_rels)
    assert any(re.search(r"Relation \[h#\d+,exact_match#\d+L\] parquet", ln) for ln in batch_rels)
    assert any(re.search(r"Relation \[doc_id#\d+L,sig#\d+\] parquet", ln) for ln in batch_rels)
    # the incoming stream is pushdown-filtered to the ingest slice
    assert re.search(r"% cast\(10 as bigint\)\) = cast\(7 as bigint\)", plan)
    spark.catalog.clearCache()


def test_append_triage_equals_batch_triage(spark, sf_dir):
    """VERDICT r6 #6: the watermarked append-mode emission log, fully
    finalized by the sentinel drain, must equal the batch triage."""
    from golang_mapreduce_spark.operators.dedup import dedup_incremental_triage
    from golang_mapreduce_spark.streaming.jobs import streaming_triage_append

    batch = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in dedup_incremental_triage(spark, sf_dir).collect()
    }
    appended = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in streaming_triage_append(spark, sf_dir).collect()
    }
    assert batch == appended
    assert len(batch) > 0
    spark.catalog.clearCache()


def test_append_triage_drops_late_document(spark, sf_dir):
    """The late-data contract only append mode has (test_late_data.py
    style, cross-batch): a document whose synthetic event-time window
    the watermark already passed must be DROPPED — it never gets a
    verdict row, and the state operator reports it in
    numRowsDroppedByWatermark.

    Empirical semantics this pins (measured here, consistent with the
    SPARK-40925 late-events/eviction watermark split): a row in batch N
    is hard-dropped iff its event time is older than the LATE-EVENTS
    watermark, which is the watermark OPERATING during batch N-1 — i.e.
    computed from batch N-2's stats — a TWO-batch lag, one more than
    the eviction watermark's.  So the late doc must be older than
    (batch 1's max event time - delay); a doc merely older than the
    previous batch's stats is NOT filtered and silently re-creates its
    already-emitted group (the one-directional guarantee).  File
    sequence at maxFilesPerTrigger=1: batch 1 = on-time docs spanning
    two windows (max id 3607 puts the late-events watermark for batch 3
    at BASE+3007); batch 2 = far-future sentinel; batch 3 = the late
    doc (id 37 << 3007, well behind the lagged watermark)."""
    import os
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from golang_mapreduce_spark.streaming.jobs import (
        _TRIAGE_SENTINELS,
        _append_triage_frame,
        _write_doc_sentinel,
        docs_stream_schema,
    )

    src = tempfile.mkdtemp(prefix="gmrs_late_triage_")

    def _docs_file(path, ids):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(
                        [f"alpha beta gamma delta doc {i}" for i in ids], pa.string()
                    ),
                    "lang": pa.array(["en"] * len(ids), pa.string()),
                    "source": pa.array(["syn"] * len(ids), pa.string()),
                    "n_chars": pa.array([30] * len(ids), pa.int64()),
                }
            ),
            path,
        )

    on_time = [7, 17, 3607]
    late = [37]  # same ingest slice, older than the two-batch-lagged watermark
    _docs_file(os.path.join(src, "00_ontime.parquet"), on_time)
    _write_doc_sentinel(os.path.join(src, "01_sentinel.parquet"), _TRIAGE_SENTINELS[0])
    _docs_file(os.path.join(src, "02_late.parquet"), late)
    now = os.path.getmtime(os.path.join(src, "00_ontime.parquet"))
    for i, f in enumerate(sorted(os.listdir(src))):
        os.utime(os.path.join(src, f), (now + 10 * i, now + 10 * i))

    name = "late_triage_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="gmrs_ckpt_")
    docs = (
        spark.readStream.schema(docs_stream_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        _append_triage_frame(spark, sf_dir, docs)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    rows = {r["doc_id"] for r in spark.table(name).collect()}
    assert set(on_time) <= rows
    assert late[0] not in rows  # the late doc never got a verdict
    assert _TRIAGE_SENTINELS[0] not in rows  # sentinel window never closes
    assert dropped >= 1
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    spark.catalog.clearCache()
