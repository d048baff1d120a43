"""The driver window is generated, not narrated (VERDICT r7 #5).

``_ROUND15_WINDOW`` in ``__spark_entry__.py`` must equal
``tools/rotation.round15_window()`` exactly, and satisfy the standing
invariants (size 50, unique, registered, ≥15 r1-cohort entries).  No
Spark session needed — pure ledger math over CORRECTNESS_r*.json.

The round-15 binding reads the ledger ``through_round=14`` (VERDICT r8
#1): the window was generated from the rounds-1..14 ledger, and the
driver's own ``CORRECTNESS_r15.json`` landed after the round's last
commit, so an unbounded glob would validate the window against a ledger
that didn't exist when it was generated.
"""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entry_mod
from golang_mapreduce_spark.tools import rotation

pytestmark = pytest.mark.driver


#: The twelve r8 rows the r1 floor plus the pmi_bigrams pin displaced
#: from the round-14 fill; they lead the r15 stale fill.
ROUND14_DEFERRED_R8 = {
    "boilerplate_ngrams",
    "decontaminate_bloom",
    "decontaminate_docs",
    "doc_perplexity",
    "doc_repetition_scores",
    "image_resize",
    "lang_stopword_quality",
    "merge_upsert_orders",
    "packed_sequences",
    "pmi_bigrams",  # pinned into the head, so not a fill displacement
    "seq_len_bucket_histogram",
    "snapshot_diff",
}


def test_round15_window_matches_ledger():
    problems = rotation.validate_window(
        entry_mod._ROUND15_WINDOW,
        rotation.latest_rounds(through_round=14),
        rotation.r1_cohort(),
        rotation.registration_order(),
        new=rotation.ROUND15_NEW,
        changed=rotation.ROUND15_CHANGED,
        pins=rotation.ROUND15_PINS,
    )
    assert problems == []


def test_round15_head_is_carryovers_then_changed():
    """VERDICT r14 #1: the two round-14 carryovers — the only
    registered queries with zero driver rows — lead; then the eight
    changed paths (the _probe_walk factor over the IVF quartet with
    pq_residual_topk's residual persist, the persisted-exact recall
    audit, the single-tokenization DSIR pair, the persisted-basket
    association rules); no pins; then the eleven deferred r8 rows
    drain immediately (they must not defer twice)."""
    assert rotation.ROUND15_NEW == (
        "ivf_probe_recall_curve",
        "lsh_threshold_sweep",
    )
    assert entry_mod._ROUND15_WINDOW[:2] == list(rotation.ROUND15_NEW)
    assert rotation.ROUND15_CHANGED == (
        "ann_ivf_topk",
        "pq_residual_topk",
        "ivf_int8_topk",
        "ivf_ce_retrieval",
        "ann_recall_at_k",
        "dsir_importance_weights",
        "dsir_topk_selection",
        "brand_basket_lift",
    )
    assert entry_mod._ROUND15_WINDOW[2:10] == list(rotation.ROUND15_CHANGED)
    assert rotation.ROUND15_PINS == ()
    assert set(entry_mod._ROUND15_WINDOW[10:21]) == (
        ROUND14_DEFERRED_R8 - {"pmi_bigrams"}
    )


#: The seventeen r9 rows the r1 floor displaced from the round-15 fill
#: — each annotated with an in-window family mate in the
#: __spark_entry__ window comment (the deferral path rounds 9–14
#: sanctioned); they lead the r16 stale fill.
ROUND15_DEFERRED_R9 = {
    "centroid_drift_by_label",
    "char_coverage_audit",
    "cms_heavy_hitters",
    "dup_span_manifest",
    "embedding_power_iteration",
    "graph_triangle_counts",
    "hll_distinct_by_source",
    "image_phash_clusters",
    "image_phash_pairs",
    "lang_vocab_overlap",
    "neardup_pagerank",
    "normalization_ladder",
    "quality_quantile_normalize",
    "rare_ngram_uniqueness",
    "robust_quality_outliers",
    "runtime_filtered_join",
    "token_budget_pack_plan",
}


def test_round15_drains_r8_fully_and_r9_except_the_annotated_seventeen():
    """VERDICT r14 #1's acceptance: after round 15 no ledger row may be
    older than r9, and every r9-latest query is in-window EXCEPT
    exactly the seventeen the floor displaced — no silent growth of
    the deferred set."""
    latest = rotation.latest_rounds(through_round=14)
    window = set(entry_mod._ROUND15_WINDOW)
    r8_stale = {n for n, v in latest.items() if v <= 8}
    assert r8_stale <= window, sorted(r8_stale - window)
    r9_stale = {n for n, v in latest.items() if v == 9}
    deferred = r9_stale - window
    assert deferred == ROUND15_DEFERRED_R9, sorted(
        deferred ^ ROUND15_DEFERRED_R9
    )


def test_through_round_bounds_the_ledger():
    """A later round's artifact must not leak into an earlier cutoff."""
    full = rotation.latest_rounds()
    bounded = rotation.latest_rounds(through_round=7)
    assert all(v <= 7 for v in bounded.values())
    # every bounded entry exists in the full ledger at >= its round
    assert all(full[k] >= v for k, v in bounded.items())


def test_window_leads_registration():
    """queries() must serve the CURRENT window names first, in order."""
    names = list(entry_mod.queries())
    assert names[: len(entry_mod._ROUND15_WINDOW)] == entry_mod._ROUND15_WINDOW
    assert list(entry_mod.oracle_sql())[:50] == entry_mod._ROUND15_WINDOW


def test_every_window_query_is_oracle_backed():
    oracles = entry_mod.oracle_sql()
    missing = [n for n in entry_mod._ROUND15_WINDOW if n not in oracles]
    assert missing == []


def test_cli_prints_the_current_window(monkeypatch, capsys):
    """The CLI's no-flag default is the committed window, so it cannot
    go stale while ``_ROUND15_WINDOW`` is what the driver sees."""
    monkeypatch.setattr(sys, "argv", ["golang_mapreduce_spark.tools.rotation"])
    rotation.main()
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "# round-15 window (50 entries, 15 r1-cohort)"
    names = [line.split()[0] for line in out[1:51]]
    assert names == entry_mod._ROUND15_WINDOW


def test_floor_enforcement_is_deterministic():
    """Synthetic ledger: floor displacement removes newest-latest non-r1
    fill entries and admits the stalest unpicked r1 entries."""
    reg = [f"q{i}" for i in range(8)]
    latest = {n: (2 if i < 4 else 3) for i, n in enumerate(reg)}
    r1 = {"q5", "q6", "q7"}
    window = rotation.propose_window(
        latest, r1, reg, size=5, floor=2,
    )
    # stalest-first fill would pick q0..q3 + q5 (r1-first within r3 tier);
    # q5 alone gives 1 r1 entry, so the floor displaces q3 for q6.
    assert window == ["q0", "q1", "q2", "q5", "q6"]
    assert sum(1 for n in window if n in r1) == 2


def test_unsatisfiable_floor_raises():
    reg = ["a", "b"]
    latest = {"a": 1, "b": 1}
    try:
        rotation.propose_window(latest, {"zz"}, reg, size=2, floor=1)
    except ValueError as exc:
        assert "r1 floor" in str(exc)
    else:  # pragma: no cover
        raise AssertionError("expected ValueError")
