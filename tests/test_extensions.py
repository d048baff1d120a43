"""Unit tests for surfaces the DuckDB oracle can't check: the stubbed
multimodal decoder, IVF recall vs brute force, the map_reduce facade's
UDF contract, and physical-plan properties (pushdown/pruning/broadcast)."""

from __future__ import annotations

import duckdb
import pytest

from golang_mapreduce_spark.mapreduce import map_reduce
from golang_mapreduce_spark.operators import multimodal, similarity
from golang_mapreduce_spark.operators.mr_parity import word_count
from golang_mapreduce_spark.operators.relational import q5_local_supplier, q6_revenue_forecast
from golang_mapreduce_spark.plans import has_broadcast_join, pushed_filters, read_schema

pytestmark = pytest.mark.python_udf


def test_image_features_match_independent_python(spark, sf_dir):
    got = {
        r["doc_id"]: r
        for r in multimodal.image_features(spark, sf_dir).collect()
    }
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    assert len(got) == len(texts)
    for doc_id, text in texts:
        data = text.encode("utf-8")
        row = got[doc_id]
        assert row["n_bytes"] == len(data)
        assert row["width"] == 1 + (len(data) % 512)
        assert row["height"] == 1 + (len(data) // 512)
        head = data[:64]
        assert row["mean_byte"] == pytest.approx(sum(head) / max(len(head), 1))


def test_decode_image_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = similarity.knn_bruteforce(spark, sf_dir).collect()
    approx = similarity.ann_ivf_topk(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(approx_sets) == set(exact_sets)
    recalls = [
        len(exact_sets[q] & approx_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 2-of-~10 probes on near-random vectors: recall is modest but must
    # be far above the ~P/C random-subset floor.
    assert sum(recalls) / len(recalls) >= 0.2


def test_map_reduce_facade_custom_udfs(spark):
    df = spark.createDataFrame(
        [("f1", "a b a"), ("f2", "b c")], ["fname", "contents"]
    )

    def mapf(fname, contents):
        for w in contents.split():
            yield (w, fname)

    def reducef(key, values):
        return ",".join(sorted(set(values)))

    out = {
        r["key"]: r["value"]
        for r in map_reduce(df, mapf, reducef).collect()
    }
    assert out == {"a": "f1", "b": "f1,f2", "c": "f2"}


def test_q6_filters_are_pushed(spark, sf_dir):
    filters = pushed_filters(q6_revenue_forecast(spark, sf_dir))
    assert any("l_shipdate" in f or "l_discount" in f for f in filters), filters


def test_wc_prunes_to_text_column(spark, sf_dir):
    schemas = read_schema(word_count(spark, sf_dir))
    assert schemas == ["text:string"], schemas


def test_q5_broadcasts_dims(spark, sf_dir):
    assert has_broadcast_join(q5_local_supplier(spark, sf_dir))


def test_pq_codes_compress_and_cover(spark, sf_dir):
    """PQ encoding must cover every vector with one code per subspace,
    codes drawn from the centroid id set."""
    from golang_mapreduce_spark.operators.similarity import (
        PQ_SUBSPACES,
        centroid_step,
        pq_codes,
    )

    from pyspark.sql import functions as F

    emb = similarity._emb(spark, sf_dir)
    n = emb.count()
    codes = pq_codes(spark, sf_dir)
    assert codes.count() == n
    step = centroid_step(n)
    cids = {
        r["vec_id"] for r in emb.where(F.col("vec_id") % step == 0)
        .select("vec_id").collect()
    }
    row = codes.limit(5).collect()
    for r in row:
        for s in range(PQ_SUBSPACES):
            assert r[f"code{s}"] in cids


def test_pq_adc_beats_random_ranking(spark, sf_dir):
    """ADC over 8 sub-codes is lossy, but it must still retrieve a
    meaningfully overlapping top-5 with the exact search (recall far
    above the ~1% random-overlap baseline for 500 vectors)."""
    from golang_mapreduce_spark.operators.similarity import pq_adc_topk

    exact = similarity.knn_bruteforce(spark, sf_dir).collect()
    approx = pq_adc_topk(spark, sf_dir).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(approx_sets) == set(exact_sets)
    mean_recall = sum(
        len(exact_sets[q] & approx_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ) / len(exact_sets)
    # fixture embeddings are near-random (hardest case for PQ); random
    # top-5 overlap would be ~1%, ADC lands ~15-20%
    assert mean_recall >= 0.1, mean_recall


def test_cosine_zero_vector_yields_null_not_error(spark):
    """A zero embedding (empty doc / failed embed call) must produce a
    NULL similarity that ranking ignores — not an ANSI divide-by-zero
    job failure (the guard real corpora need; fixtures have no zero
    vectors so oracles are unaffected)."""
    from golang_mapreduce_spark.operators.similarity import _cos

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0])], "id int, v array<double>"
    ).selectExpr("id", "v", "array(1.0d, 1.0d) AS q")
    got = {r["id"]: r["c"] for r in df.select("id", _cos("v", "q").alias("c")).collect()}
    assert got[1] is None
    assert got[2] == 0.948683
