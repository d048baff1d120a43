"""Repo-wide plan gate: build (don't execute) the physical plan of every
queries() entry and assert no CartesianProduct anywhere — an
un-broadcast cross product is the one plan shape that can never survive
100 TB.  BroadcastNestedLoopJoin is allowed only for the queries that
cross-join a deliberately tiny broadcast side (1-row scalars, 8-row
query sets, ~10-row centroid tables)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from golang_mapreduce_spark.plans.checks import formatted_plan
from tests.test_plan_quality import count_nodes

pytestmark = pytest.mark.python_udf

#: queries whose plan is only produced by actually running a stream or a
#: driver-side iterative loop — excluded from the static sweep (their
#: plan quality is covered by their own tests)
EXECUTING = {
    "streaming_tumbling_hourly",
    "stateful_sessionize",
    "streaming_click_attribution",
    "streaming_unattributed_purchases",
    "streaming_packed_sequences",
    "streaming_pii_rates",
    "neardup_clusters",
    "clean_corpus",
    "clean_corpus_decontaminated",  # composes clean_corpus's CC loop
    "dedup_keep_best",
    "training_data_run",
    "training_data_run_semantic",  # same CC loop + the temp_rates 1-row BNLJ
    "streaming_incremental_triage",
    "streaming_triage_append",
    "streaming_tumbling_append",
    "streaming_session_append",
    "streaming_quality_monitor",
    "neardup_weighted_sample",  # composes the CC loop's labels
    "image_phash_clusters",  # CC loop over the phash pair graph
    "streaming_cms_cells",   # runs a stream drain
    "streaming_upsert_snapshot",  # runs a stream drain (foreachBatch)
    "streaming_hll_registers",    # runs a stream drain
    "coreset_kcenter_select",     # K-1 bounded driver rounds at build
    "streaming_trending_topk",    # runs a stream drain (append log)
}
# NOT excluded despite composing packed_sequences: packing_efficiency is
# a pure DataFrame rollup over the applyInPandas packing plan — building
# its physical plan runs no jobs (ADVICE r3 asked for this disposition
# to be explicit).

#: deliberate broadcast cross joins (tiny side by construction)
BNLJ_OK = {
    "tfidf_top_terms",          # 1-row N
    "q11_important_parts",      # 1-row total
    "q15_top_supplier",         # 1-row max
    "q17_small_quantity_revenue",
    "q22_dormant_rich_customers",  # 1-row avg
    "ann_ivf_topk",             # ~sqrt(N)-row centroid table
    "ann_ivf_adaptive",         # centroid table + 1-row mass target
    "emb_neardup_pairs",
    "semantic_dedup_keep",       # same centroid broadcast via blocked pairs
    "emb_neardup_multiprobe",
    "pq_codes",
    "pq_adc_topk",
    "pq_residual_topk",         # centroid + residual codebooks
    "knn_bruteforce",           # 8-row query set (non-equi join)
    "knn_label_vote",           # same 8-row query set, label vote
    "matryoshka_recall",        # same 8-row query set, truncated dims
    "balance_langs_sample",     # 1-row min-stratum count vs |langs| rows
    "temperature_rebalance_sample",  # same 1-row cross join shape
    "hard_negative_mining",     # same 8-row query set, label predicate
    "int8_quant_topk",          # 1-row per-dim stats + 8-row query set
    "ivf_int8_topk",            # centroid table + 1-row stats broadcasts
    "doc_perplexity",           # 1-row corpus token total
    "perplexity_tail_split",    # composes doc_perplexity's 1-row total
    "doc_perplexity_bigram",    # 1-row corpus token total
    "bm25_search",              # 1-row corpus stats (N, total length)
    "vocab_topk",               # 1-row corpus token total
    "event_ngram_patterns",     # 1-row distinct-user total
    "dsir_importance_weights",  # two 1-row feature-total broadcasts
    "dsir_topk_selection",      # same broadcasts under the top-k
    "ann_recall_at_k",          # composes knn_bruteforce + ann_ivf_topk
    "salted_join_revenue",      # deliberate S-row salt-range replication
    "join_skew_diagnostics",    # 1-row global key stats
    "hotkey_salted_join_revenue",  # same S-row salt range, hot keys only
    "source_minhash_similarity",   # |sources|-row merged-sketch table on
                                   # BOTH sides (curated dimension), the
                                   # inequality pairing needs the NLJ
    "binary_quant_topk",        # 8-row bit-code query set (non-equi join,
                                # same shape as knn_bruteforce)
    "quant_tier_recall",        # composes ann_ivf_topk + int8_quant_topk
                                # + pq_adc_topk + binary_quant_topk, each
                                # individually allow-listed above
    "ann_rank_quality",         # same four-tier composition
    "kmeans_refine_centroids",  # ~sqrt(N)-row centroid broadcast (the
                                # shared _ivf_assign pass)
    "dq_constraint_audit",      # 1-row orphan-count × 1-row total-count
                                # cross joins inside the FK constraints
    "bitext_margin_pairs",      # 8-row source query set (non-equi join,
                                # same shape as knn_bruteforce)
    "pmi_bigrams",              # two 1-row corpus-total broadcasts
    "lang_vocab_overlap",       # |langs|-row head-size table on BOTH
                                # sides (non-equi lang_a < lang_b pairing,
                                # the source_minhash_similarity shape)
    "embedding_power_iteration",  # 1-row norm broadcast
    "quality_ablation_matrix",  # 1-row grand-total broadcast (the cube's
                                # own all-NULL row feeds the share divisor)
    "decayed_event_counts",     # 1-row max-timestamp anchor broadcast
    "source_level_split",       # 1-row doc-total broadcast (share divisor)
    "brand_basket_lift",        # 1-row order-total broadcast (support divisor)
    "doc_keywords_tfidf",       # 1-row doc-count broadcast (idf divisor)
    "heaps_law_fit",            # 1-row decile-bounds + 1-row fit broadcasts
    "traffic_seasonality_profile",  # 1-row traffic-total broadcast
    "js_divergence_sources",    # |sources|-row pair skeleton on BOTH
                                # sides (non-equi source_a < source_b
                                # pairing, the lang_vocab_overlap shape)
    "pipeline_drop_attribution",  # temp_rates' 1-row min-count broadcast
                                  # (building its plan also runs the CC
                                  # label loop, like clean_corpus — kept
                                  # in the sweep because the cartesian
                                  # check on the composed plan is worth
                                  # the loop's sf0.01 cost)
    "source_keyness_logodds",   # 1-row grand-total broadcast (the
                                # smoothing denominator)
    "crossencoder_rerank_audit",  # 8-row query set (non-equi join, the
                                  # knn_bruteforce shape feeding the pool)
    "ivf_ce_retrieval",         # ~sqrt(N)-row centroid table (the
                                # ann_ivf_topk probe shape feeding the
                                # broadcast pool rerank)
    "ivf_probe_recall_curve",   # ~sqrt(N)-row centroid table (the walk)
                                # + the 8-row truth broadcast (the
                                # knn_bruteforce shape)
    "lsh_threshold_sweep",      # 16-row threshold grid theta-join
                                # (broadcast build side by construction)
    "ivf_mass_recall_curve",    # 20-row mass-budget grid theta-joins
                                # (broadcast build side) + the 1-row
                                # n_vec scalar cross — the two sibling
                                # tuning-table shapes composed
    # user_activity_power_law left this set in round 13: its grand
    # total is now a window over the bucket rollup, not a 1-row
    # broadcast cross join (the BENCH_r12 flag sweep's plan fix)
}

QUERIES = {
    name: fn
    for name, fn in entry_mod.queries().items()
    if name not in EXECUTING
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unbroadcast_cartesian(name, spark, sf_dir):
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    assert count_nodes(plan, "CartesianProduct") == 0, f"{name}:\n{plan}"
    if name not in BNLJ_OK:
        assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0, (
            f"{name} has an unexpected nested-loop join:\n{plan}"
        )
