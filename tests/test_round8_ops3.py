"""Structural invariants for the third round-8 operator batch
(ann_rank_quality, kmeans_refine_centroids, weighted_reservoir_sample,
streaming_unattributed_purchases) — oracle parity is covered by
tests/test_oracle_parity.py; these pin the semantics parity can't:
metric bounds vs the recall table, Lloyd-step drift behavior, the
weight-proportional sampling bias, and the outer join being the exact
complement of the inner one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.sampling import (
    RESERVOIR_K,
    weighted_reservoir_sample,
)
from golang_mapreduce_spark.operators.similarity import (
    ann_rank_quality,
    kmeans_refine_centroids,
    quant_tier_recall,
)
from golang_mapreduce_spark.sources.fixtures import load_table
from golang_mapreduce_spark.streaming.jobs import (
    streaming_click_attribution,
    streaming_unattributed_purchases,
)

TIERS = {"ivf", "int8", "pq_adc", "binary"}


def test_rank_quality_bounds_and_recall_consistency(spark, sf_dir):
    """MRR and NDCG live in [0,1]; a tier with zero recall has zero for
    both, and NDCG can never exceed recall's hit mass allows (every hit
    contributes at most the rank-1 gain)."""
    rq = {r["tier"]: r for r in ann_rank_quality(spark, sf_dir).collect()}
    rc = {r["tier"]: r for r in quant_tier_recall(spark, sf_dir).collect()}
    assert set(rq) == TIERS
    for tier, r in rq.items():
        assert 0.0 <= r["mrr_at_k"] <= 1.0
        assert 0.0 <= r["ndcg_at_k"] <= 1.0
        recall = rc[tier]["recall_at_k"]
        if recall == 0.0:
            assert r["mrr_at_k"] == 0.0 and r["ndcg_at_k"] == 0.0
        else:
            assert r["ndcg_at_k"] > 0.0
        # binary relevance: each hit contributes a gain in
        # [1/log2(6), 1], so avg NDCG is bracketed by recall scaled by
        # the worst/best per-hit gain over IDCG@5
        import math

        from golang_mapreduce_spark.operators.similarity import (
            IDCG_AT_K,
            TOP_K,
        )

        hits_per_query = recall * TOP_K
        assert r["ndcg_at_k"] <= hits_per_query * 1.0 / IDCG_AT_K + 1e-9
        assert (
            r["ndcg_at_k"]
            >= hits_per_query * (1.0 / math.log2(TOP_K + 1)) / IDCG_AT_K - 1e-9
        )


def test_kmeans_refine_covers_all_clusters_and_drifts(spark, sf_dir):
    """Every assigned cluster appears once, member counts sum to the
    collection, and on near-random fixture embeddings the mean must
    move (zero drift would mean the quantizer is already at a Lloyd
    fixed point — vanishingly unlikely for vec_id-picked centroids)."""
    rows = kmeans_refine_centroids(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_vecs
    assert len({r["cluster"] for r in rows}) == len(rows)
    assert all(r["drift_l2"] >= 0.0 for r in rows)
    assert any(r["drift_l2"] > 0.0 for r in rows)


def test_weighted_reservoir_is_deterministic_and_weight_biased(spark, sf_dir):
    """Two runs give the identical sample (hash-keyed, not RNG-keyed);
    the sample's mean weight exceeds the corpus mean (that is what
    weight-proportional means); ranks are a 1..K permutation ordered by
    key."""
    a = weighted_reservoir_sample(spark, sf_dir).collect()
    b = weighted_reservoir_sample(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == RESERVOIR_K
    assert [r["sample_rank"] for r in a] == list(range(1, RESERVOIR_K + 1))
    keys = [r["res_key"] for r in a]
    assert keys == sorted(keys, reverse=True)
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r["weight_chars"] for r in a) / len(a)
    assert sample_mean > corpus_mean


@pytest.mark.streaming
def test_outer_join_is_exact_complement_of_inner(spark, sf_dir):
    """unattributed ∪ attributed = all purchases, disjointly: the
    left-outer stream-stream join's null side must be exactly the
    purchases the inner join (same window) did NOT emit."""
    unattr = {
        r["purchase_id"]
        for r in streaming_unattributed_purchases(spark, sf_dir).collect()
    }
    attr = {
        r["purchase_id"]
        for r in streaming_click_attribution(spark, sf_dir).collect()
    }
    all_purchases = {
        r["event_id"]
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id")
        .collect()
    }
    assert unattr.isdisjoint(attr)
    assert unattr | attr == all_purchases
