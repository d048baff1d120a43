"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` maps every implemented operator (SURVEY.md §2) to a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL per query (omitted only for genuinely
non-SQL-expressible ops, which get a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from golang_mapreduce_spark import mapreduce
from golang_mapreduce_spark.operators import (
    advanced,
    analytics,
    corpus,
    dedup,
    incremental,
    mr_parity,
    multimodal,
    pii,
    pipeline,
    relational,
    sampling,
    similarity,
    skew,
    temporal,
    textstats,
    tpch_extra,
    windows,
)
from golang_mapreduce_spark.streaming import jobs as streaming_jobs

_MODULES = [
    mr_parity,
    relational,
    tpch_extra,
    temporal,
    pipeline,
    sampling,
    analytics,
    windows,
    streaming_jobs,
    mapreduce,
    dedup,
    similarity,
    textstats,
    pii,
    multimodal,
    advanced,
    skew,
    corpus,
    incremental,
]

#: The first 50 registered names are the driver's correctness window: it
#: records CORRECTNESS rows for those only, so ``_ordered`` serves
#: ``_ROUND15_WINDOW`` first.  Everything after entry 50 is gated by
#: tests/test_oracle_parity.py.
#:
#: Round-15 window: GENERATED by ``rotation.round15_window()`` over the
#: rounds-1..14 ledger.  Head (10): the two round-14 carryovers — the
#: only registered queries with zero driver rows (VERDICT r14 #1) —
#: then the round's EIGHT code-path changes, no pins: the measured
#: subtree-reuse wave 2 (VERDICT r14 #2 — dsir_importance_weights /
#: dsir_topk_selection derive every bucket statistic from ONE persisted
#: (doc_id, b, cnt) aggregate instead of five re-tokenizations, 10
#: scans → 2; brand_basket_lift persists the DISTINCT basket relation
#: and broadcasts the |brands|-row count joins, 10 scans/3 SMJs →
#: 2 scans/0 avoidable SMJs; ann_recall_at_k persists the exact top-k
#: relation that previously ran the whole brute-force scan twice and
#: broadcasts both bounded join sides), the shared ``_probe_walk``
#: factor across the IVF family (VERDICT r14 #3: ann_ivf_topk /
#: pq_residual_topk / ivf_int8_topk / ivf_ce_retrieval — behavior-
#: identical, but five hand-synced copies of the oracle-mirrored probe
#: ordering collapse to one helper, so every touched op re-certifies;
#: ivf_probe_recall_curve rides the NEW head), and pq_residual_topk's
#: persisted residual relation (VERDICT r14 #6: its BLAS assignment
#: subtree previously executed three times — codebook collect, encode
#: pass, LUT side).  The with_shared_caches hardening (VERDICT r14 #4)
#: is Python-side metadata only — no plan, result, or execution change
#: — so handle-only ops are NOT marked changed (the r13 precedent for
#: non-query-path edits); tests/test_cache_hygiene.py's registry-wide
#: accounting is their gate.  Fill: the eleven r8 deferrals drain
#: FIRST (VERDICT r14 #1: this is their exposure round), then 15 of
#: the r9 tier; the 15-entry r1 floor pulls from the r11/r12 tiers (no
#: r8/r9 row is r1-cohort) and defers the SEVENTEEN newest-registered
#: non-r1 r9 entries, each with an in-window family mate:
#: centroid_drift_by_label / embedding_power_iteration with the
#: in-window ANN-emb cohort (ann_ivf_topk .. ivf_probe_recall_curve);
#: char_coverage_audit / lang_vocab_overlap with token_stats +
#: lang_doc_stats + lang_stopword_quality; cms_heavy_hitters with
#: streaming_cms_cells and hll_distinct_by_source with
#: streaming_hll_registers (each sketch's streaming twin);
#: dup_span_manifest / graph_triangle_counts / neardup_pagerank with
#: the in-window pair-graph mates neardup_clusters +
#: dup_cluster_histogram; image_phash_pairs / image_phash_clusters
#: with image_resize (multimodal); normalization_ladder /
#: quality_quantile_normalize / robust_quality_outliers /
#: rare_ngram_uniqueness with clean_corpus + decontaminate_docs (the
#: corpus-hygiene chain); runtime_filtered_join with the in-window
#: TPC-H join cohort (q5_local_supplier); token_budget_pack_plan with
#: packed_sequences + seq_len_bucket_histogram.  All seventeen lead
#: the r16 stale fill.  ``tests/test_rotation.py`` pins this literal
#: against ``rotation.round15_window()``.
_ROUND15_WINDOW = [
    # never driver-checked: the two round-14 carryovers (VERDICT r14 #1)
    "ivf_probe_recall_curve",
    "lsh_threshold_sweep",
    # code paths changed this round (rotation.ROUND15_CHANGED): the
    # _probe_walk factor + pq residual persist, the persisted-exact
    # recall audit, the single-tokenization DSIR pair, and the
    # persisted-basket association rules
    "ann_ivf_topk",
    "pq_residual_topk",
    "ivf_int8_topk",
    "ivf_ce_retrieval",
    "ann_recall_at_k",
    "dsir_importance_weights",
    "dsir_topk_selection",
    "brand_basket_lift",
    # the eleven deferred r8 rows drain FIRST (VERDICT r14 #1)
    "doc_repetition_scores",
    "lang_stopword_quality",
    "doc_perplexity",
    "image_resize",
    "decontaminate_docs",
    "boilerplate_ngrams",
    "packed_sequences",
    "decontaminate_bloom",
    "seq_len_bucket_histogram",
    "merge_upsert_orders",
    "snapshot_diff",
    # the r9-stale tier drains (15 of 32 — the r1 floor defers 17,
    # annotated above)
    "fuzzy_key_join_customers",
    "dq_constraint_audit",
    "clean_corpus",
    "clean_corpus_decontaminated",
    "hourly_anomalies",
    "session_funnel_paths",
    "conversion_latency_quantiles",
    "streaming_click_attribution",
    "streaming_dedup",
    "streaming_packed_sequences",
    "streaming_cms_cells",
    "streaming_upsert_snapshot",
    "streaming_hll_registers",
    "mr_indexer",
    "dup_cluster_histogram",
    # r1-floor fill: the r11-tier r1-cohort entries ...
    "set_ops_segments",
    "neardup_clusters",
    "lang_doc_stats",
    "lang_id_heuristic",
    "token_stats",
    # ... then the r12-tier r1-cohort entries in registration order
    "file_counts",
    "file_profile",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q4_priority_count",
    "scalar_funcs",
    "date_funcs",
]


def _ordered(dicts: list[dict]) -> dict:
    merged: dict = {}
    for d in dicts:
        merged.update(d)
    out = {name: merged[name] for name in _ROUND15_WINDOW if name in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return mr_parity.word_count(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered([mod.QUERIES for mod in _MODULES])


def oracle_sql() -> dict[str, str]:
    return _ordered([mod.ORACLES for mod in _MODULES])
