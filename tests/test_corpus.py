"""Property tests for the corpus-construction operators (corpus.py,
int8 quantization, streaming dedup).  Oracle parity is covered for all
of them by tests/test_oracle_parity.py; these assert the semantic
invariants the oracles alone would not make obvious."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.corpus import (
    DECON_MOD,
    MIX_PCTS,
    PACK_BUDGET,
    boilerplate_ngrams,
    decontaminate_docs,
    packed_sequences,
    source_mixture_sample,
)
from golang_mapreduce_spark.sources.fixtures import load_table


def test_decontaminate_reports_only_training_docs(spark, sf_dir):
    """The report must never contain a benchmark-slice doc, and every
    reported doc shares >= 1 shingle."""
    rows = decontaminate_docs(spark, sf_dir).collect()
    assert rows, "fixture is known to contain cross-slice overlap"
    for r in rows:
        assert r["doc_id"] % DECON_MOD != 0
        assert r["shared_ngrams"] >= 1


def test_boilerplate_ratio_bounds(spark, sf_dir):
    """Ratio is n_boiler/n_ngrams in [0,1]; every doc with enough tokens
    is scored."""
    rows = boilerplate_ngrams(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == docs  # fixture docs all have >= 10 tokens
    assert any(r["n_boiler"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_boiler"] <= r["n_ngrams"]
        assert abs(r["boiler_ratio"] - round(r["n_boiler"] / r["n_ngrams"], 6)) < 1e-9


def test_source_mixture_rates(spark, sf_dir):
    """Full-rate sources keep everything; kept counts never exceed
    totals; rates order consistently with the configured percentages."""
    rows = {r["source"]: r for r in source_mixture_sample(spark, sf_dir).collect()}
    assert len(rows) == 20
    for src, r in rows.items():
        num = int("".join(c for c in src if c.isdigit()))
        pct = MIX_PCTS[num % 4]
        assert 0 <= r["n_kept"] <= r["n_total"]
        if pct == 100:
            assert r["n_kept"] == r["n_total"]


def test_packed_sequences_greedy_invariants(spark, sf_dir):
    """Bins fill greedily in doc_id order per language: totals stay
    within budget unless a single oversized doc owns the bin, bin ids
    are dense from 0, and a doc never fits in the previous bin."""
    rows = packed_sequences(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == docs
    per_lang = defaultdict(list)
    for r in rows:
        per_lang[r["lang"]].append(r)
    for lang, rs in per_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        bins = defaultdict(list)
        for r in rs:
            bins[r["bin_id"]].append(r["n_toks"])
        assert sorted(bins) == list(range(len(bins))), lang
        prev_total = None
        for b in sorted(bins):
            total = sum(bins[b])
            assert total <= PACK_BUDGET or len(bins[b]) == 1, (lang, b)
            if b > 0:
                # first doc of bin b would have overflowed bin b-1
                assert prev_total + bins[b][0] > PACK_BUDGET, (lang, b)
            prev_total = total


def test_int8_quant_matches_float_topk_loosely(spark, sf_dir):
    """Quantized ranking is an approximation of the float ranking: for
    every query the top-5 sets overlap in at least one neighbor and
    distances are within the integer bound."""
    from golang_mapreduce_spark.operators.similarity import (
        int8_quant_topk,
        knn_bruteforce,
    )

    qd = int8_quant_topk(spark, sf_dir).collect()
    assert len(qd) == 8 * 5
    for r in qd:
        assert 0 <= r["qdist"] <= 64 * 255 * 255
        assert 1 <= r["rank"] <= 5
    exact = defaultdict(set)
    for r in knn_bruteforce(spark, sf_dir).collect():
        exact[r["query_id"]].add(r["neighbor_id"])
    approx = defaultdict(set)
    for r in qd:
        approx[r["query_id"]].add(r["neighbor_id"])
    for q in exact:
        assert exact[q] & approx[q], f"query {q}: no overlap with exact top-k"


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    """The eval-slice shingle set must hit the corpus as a broadcast
    probe (eval sets are tiny against a 100 TB corpus)."""
    plan = decontaminate_docs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.slow
@pytest.mark.streaming
def test_streaming_dedup_absorbs_duplicate_delivery(spark, sf_dir):
    """The drained per-type totals from the duplicated source equal the
    single-copy batch aggregation (exactly-once downstream of an
    at-least-once source)."""
    from golang_mapreduce_spark.streaming.jobs import streaming_dedup

    got = {
        r["event_type"]: (r["n_events"], r["n_users"])
        for r in streaming_dedup(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        r["event_type"]: (r["n"], r["u"])
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert got == want


# --- pure greedy-pack property tests (no Spark) -------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from golang_mapreduce_spark.operators.corpus import greedy_pack


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=200), max_size=80),
    budget=st.integers(min_value=1, max_value=150),
)
@settings(max_examples=300, deadline=None)
def test_greedy_pack_properties(sizes, budget):
    bins = greedy_pack(sizes, budget)
    assert len(bins) == len(sizes)
    if not sizes:
        return
    # bin ids are dense, non-decreasing, starting at 0
    assert bins[0] == 0
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    totals: dict[int, list[int]] = {}
    for n, b in zip(sizes, bins):
        totals.setdefault(b, []).append(n)
    for b, members in totals.items():
        # within budget unless a single oversized element owns the bin
        assert sum(members) <= budget or len(members) == 1
        # greedy: the first element of bin b+1 would not have fit in b
        if b + 1 in totals:
            assert sum(members) + totals[b + 1][0] > budget
