"""Structural invariants for the round-10 operator batch — oracle parity
is covered by the parameterized tests/test_oracle_parity.py sweep and the
adversarial corpora by tests/test_text_fuzz_parity.py; these pin the
semantics parity alone can't see: the BPE census agrees with a pure-Python
recount, the Zipf fit reproduces a hand-computed OLS on planted
frequencies, and the JSD matrix hits its closed-form extremes (identical
sources -> 0, disjoint sources -> ln 2)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.textstats import (
    JS_TOPV,
    MERGE_TOP,
    ZIPF_TOP,
    bpe_merge_candidates,
    js_divergence_sources,
    zipf_slope_by_lang,
)
from golang_mapreduce_spark.sources.fixtures import load_table


def test_bpe_merge_candidates_match_python_recount(spark, sf_dir):
    """The distributed pair census equals a pure-Python Counter over the
    same corpus: every adjacent index of every token occurrence, weighted
    by corpus frequency (functions/bpe.py train_merges semantics at
    corpus weight)."""
    rows = bpe_merge_candidates(spark, sf_dir).collect()
    assert 0 < len(rows) <= MERGE_TOP
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))

    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
        if r["text"] is not None
    ]
    pairs: Counter = Counter()
    for text in texts:
        for w in text.split():
            for i in range(len(w) - 1):
                pairs[w[i : i + 2]] += 1
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:MERGE_TOP]
    got = [(r["pair"], r["pair_count"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == expected


def test_zipf_fit_reproduces_hand_ols(spark, tmp_path):
    """Planted single-lang corpus with exact token frequencies 8/4/2/1:
    the operator's slope/intercept/r2 equal the closed-form OLS computed
    here (on the same 9-dp-rounded ln values)."""
    freqs = {"aa": 8, "bb": 4, "cc": 2, "dd": 1}
    text = " ".join(" ".join([w] * n) for w, n in freqs.items())
    d = str(tmp_path / "zipf")
    spark.createDataFrame(
        [(0, text, "en", "s0", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    rows = zipf_slope_by_lang(spark, d).collect()
    assert len(rows) == 1 and rows[0]["lang"] == "en"
    xs = [round(math.log(r), 9) for r in range(1, 5)]
    ys = [round(math.log(c), 9) for c in sorted(freqs.values(), reverse=True)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert rows[0]["n_ranks"] == 4
    assert rows[0]["zipf_slope"] == pytest.approx(slope, abs=2e-6)
    assert rows[0]["intercept"] == pytest.approx(intercept, abs=2e-6)
    assert rows[0]["r2"] == pytest.approx(r2, abs=2e-6)
    # geometric frequencies on log-spaced ranks are NOT collinear, but a
    # Zipf-ish corpus must still fit tightly and fall
    assert rows[0]["zipf_slope"] < 0
    assert 0.9 < rows[0]["r2"] <= 1.0


def test_zipf_real_corpus_bounds(spark, sf_dir):
    rows = zipf_slope_by_lang(spark, sf_dir).collect()
    langs = {
        r["lang"]
        for r in load_table(spark, sf_dir, "documents").select("lang").distinct().collect()
    }
    assert {r["lang"] for r in rows} <= langs
    for r in rows:
        assert 3 <= r["n_ranks"] <= ZIPF_TOP
        assert r["zipf_slope"] < 0  # frequency falls with rank by construction
        if r["r2"] is not None:
            assert 0.0 <= r["r2"] <= 1.0


def test_jsd_extremes_on_planted_sources(spark, tmp_path):
    """Three planted sources: s0 and s1 share the exact token
    distribution (JSD 0), s2 is token-disjoint from both (JSD ln 2,
    js_normalized 1).  Also pins symmetry-by-construction: the operator
    emits each unordered pair once with source_a < source_b."""
    body_a = "alpha beta gamma delta " * 5
    body_b = "epsilon zeta eta theta " * 5
    docs = [
        (0, body_a, "en", "s0", len(body_a)),
        (1, body_a, "en", "s1", len(body_a)),
        (2, body_b, "en", "s2", len(body_b)),
    ]
    d = str(tmp_path / "jsd")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    rows = js_divergence_sources(spark, d).collect()
    by_pair = {(r["source_a"], r["source_b"]): r for r in rows}
    assert set(by_pair) == {("s0", "s1"), ("s0", "s2"), ("s1", "s2")}
    assert by_pair[("s0", "s1")]["js_divergence"] == pytest.approx(0.0, abs=1e-6)
    for pair in (("s0", "s2"), ("s1", "s2")):
        assert by_pair[pair]["n_common_tokens"] == 0
        assert by_pair[pair]["js_divergence"] == pytest.approx(math.log(2), abs=1e-6)
        assert by_pair[pair]["js_normalized"] == pytest.approx(1.0, abs=1e-6)


def test_decayed_counts_match_python_recount(spark, sf_dir):
    """Exact recount: same anchor, same per-event 9-dp-rounded weights,
    same decimal sums — and the structural bounds (0 < decayed <= n,
    ratio in (0, 1])."""
    from decimal import Decimal

    from golang_mapreduce_spark.operators.analytics import (
        _DECAY_LAMBDA,
        decayed_event_counts,
    )

    rows = decayed_event_counts(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "value"
    ).collect()
    anchor = max(r["us"] for r in ev)
    agg: dict[str, list] = {}
    for r in ev:
        age = (anchor - r["us"]) / 1_000_000.0
        w = math.exp(-_DECAY_LAMBDA * age)
        a = agg.setdefault(r["event_type"], [0, Decimal(0), Decimal(0)])
        a[0] += 1
        a[1] += Decimal(f"{round(w, 9):.9f}")
        a[2] += Decimal(f"{round(w * r['value'], 9):.9f}")
    assert len(rows) == len(agg)
    for r in rows:
        n, dc, dv = agg[r["event_type"]]
        assert r["n_events"] == n
        assert r["decayed_count"] == pytest.approx(round(float(dc), 6), abs=1e-9)
        assert r["decayed_value"] == pytest.approx(round(float(dv), 6), abs=1e-9)
        assert 0 < r["decayed_count"] <= n
        assert 0 < r["decay_ratio"] <= 1.0


def test_item_cooccurrence_planted_scores_and_cap(spark, tmp_path):
    """Planted click log: items 1 and 2 share exactly 2 of 3/2 users ->
    cosine 2/sqrt(6), jaccard 2/3; a 60-item power user is capped at
    ITEM_CAP so items ranked past the cap never pair."""
    import datetime as dt

    from golang_mapreduce_spark.operators.analytics import (
        ITEM_CAP,
        item_cooccurrence_similarity,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def click(user, item, minute):
        nonlocal eid
        rows.append(
            (eid, t0 + dt.timedelta(minutes=minute), user, "click", 1.0,
             '{"k": %d}' % item)
        )
        eid += 1

    # users 100, 101 click both items 1 and 2; user 102 clicks only 1
    for u in (100, 101):
        click(u, 1, 0)
        click(u, 2, 1)
    click(102, 1, 0)
    # power user 103 clicks 60 distinct items (1000..1059) in time order:
    # the cap keeps the first ITEM_CAP, so 1000+ITEM_CAP.. never pair
    for j in range(60):
        click(103, 1000 + j, j)
    d = str(tmp_path / "cooc")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")

    out = item_cooccurrence_similarity(spark, d).collect()
    by_pair = {(r["item_a"], r["item_b"]): r for r in out}
    r12 = by_pair[(1, 2)]
    assert r12["n_co_users"] == 2
    assert r12["n_users_a"] == 3 and r12["n_users_b"] == 2
    assert r12["cosine"] == pytest.approx(2 / math.sqrt(6), abs=1e-6)
    assert r12["jaccard"] == pytest.approx(2 / 3, abs=1e-6)
    capped_out = {it for pair in by_pair for it in pair if it >= 1000}
    assert capped_out <= {1000 + j for j in range(ITEM_CAP)}
    # the power user's single-user pairs are pruned by COOC_MIN_USERS
    assert all(
        r["n_co_users"] >= 2 for r in out
    )


def test_kcore_planted_clique_and_pendant_pair(spark, tmp_path):
    """Planted graph via exact near-duplicates: a 4-clique of identical
    docs (degree 3 each -> survives every peel, in_core) and an isolated
    duplicate PAIR (degree 1 -> peeled in round 1, rounds_survived 0,
    core_degree 0)."""
    from golang_mapreduce_spark.operators.dedup import (
        KCORE_PEELS,
        graph_kcore_membership,
    )

    clique_body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    pair_body = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(12))
    docs = [(i, clique_body, "en", "s0", len(clique_body)) for i in range(4)]
    docs += [(10 + i, pair_body, "en", "s1", len(pair_body)) for i in range(2)]
    d = str(tmp_path / "kcore")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    rows = {r["doc_id"]: r for r in graph_kcore_membership(spark, d).collect()}
    assert set(rows) == {0, 1, 2, 3, 10, 11}
    for did in (0, 1, 2, 3):
        r = rows[did]
        assert r["degree0"] == 3 and r["in_core"]
        assert r["rounds_survived"] == KCORE_PEELS
        assert r["core_degree"] == 3
    for did in (10, 11):
        r = rows[did]
        assert r["degree0"] == 1 and not r["in_core"]
        assert r["rounds_survived"] == 0
        assert r["core_degree"] == 0


def test_kcore_real_corpus_invariants(spark, sf_dir):
    """core edges are a subset of the original graph (core_degree <=
    degree0); in_core iff all peels survived; peeled docs carry zero
    core edges."""
    from golang_mapreduce_spark.operators.dedup import (
        KCORE_PEELS,
        graph_kcore_membership,
    )

    spark.catalog.clearCache()
    rows = graph_kcore_membership(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["rounds_survived"] <= KCORE_PEELS
        assert r["in_core"] == (r["rounds_survived"] == KCORE_PEELS)
        assert r["core_degree"] <= r["degree0"]
        if r["rounds_survived"] < KCORE_PEELS:
            assert r["core_degree"] == 0
    # the checkpointed edge levels must not leave cache entries behind
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_source_level_split_is_group_atomic(spark, sf_dir):
    """Every source lands in exactly one split (the leakage-safety
    contract), the rollup conserves docs/sources, and shares sum to 1."""
    from golang_mapreduce_spark.functions.hashing import hash32
    from golang_mapreduce_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
        source_level_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = source_level_split(spark, sf_dir).collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert sum(r["n_sources"] for r in rows) == (
        docs.select("source").distinct().count()
    )
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-5
    for r in rows:
        assert r["abs_dev"] == pytest.approx(
            abs(r["doc_share"] - r["target_share"]), abs=2e-6
        )
    # group atomicity re-derived independently: assignment is a pure
    # function of source, so distinct sources == distinct (source, split)
    bucket = hash32(F.concat(F.lit("srcsplit:"), F.col("source"))) % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    assigned = docs.select("source", split.alias("split")).distinct()
    assert assigned.count() == docs.select("source").distinct().count()


def test_benford_audit_reconciles(spark, sf_dir):
    """Digits are 1..9, shares and expected shares each sum to ~1 per
    column, chi2_total equals the sum of its column's terms, and both
    fact columns are present."""
    from collections import defaultdict

    from golang_mapreduce_spark.operators.relational import benford_price_audit

    rows = benford_price_audit(spark, sf_dir).collect()
    by_col = defaultdict(list)
    for r in rows:
        assert 1 <= r["digit"] <= 9
        by_col[r["col_name"]].append(r)
    assert set(by_col) == {"o_totalprice", "l_extendedprice"}
    for col, rs in by_col.items():
        assert abs(sum(r["share"] for r in rs) - 1.0) < 1e-5
        exp_sum = sum(r["expected_share"] for r in rs)
        assert exp_sum <= 1.0 + 1e-6  # digits missing from data still < 1
        totals = {r["chi2_total"] for r in rs}
        assert len(totals) == 1
        assert totals.pop() == pytest.approx(
            sum(r["chi2_term"] for r in rs), abs=1e-4
        )


def test_clip_calibration_bounds_and_mass(spark, sf_dir):
    """One row per dim; bounds ordered; the binned-CDF construction
    guarantees strictly less than {low+high}% clipped mass."""
    from golang_mapreduce_spark.operators.similarity import (
        embedding_clip_calibration,
    )

    rows = embedding_clip_calibration(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    assert len(rows) == dims
    n_vecs = emb.count()
    for r in rows:
        assert r["n"] == n_vecs
        assert r["q_lo"] <= r["q_hi"]
        assert r["clip_width"] == pytest.approx(r["q_hi"] - r["q_lo"], abs=2e-6)
        assert 0.0 <= r["clipped_frac"] <= 0.02


@pytest.mark.streaming
def test_streaming_trending_ranks_are_dense_and_ordered(spark, sf_dir):
    from golang_mapreduce_spark.streaming.jobs import (
        TRENDING_TOP,
        streaming_trending_topk,
    )

    rows = streaming_trending_topk(spark, sf_dir).collect()
    assert rows
    by_w = {}
    for r in rows:
        assert r["item"] is not None
        assert r["wstart"].minute == 0 and r["wstart"].second == 0
        by_w.setdefault(r["wstart"], []).append(r)
    for w, rs in by_w.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TRENDING_TOP
        counts = [r["n_clicks"] for r in rs]
        assert counts == sorted(counts, reverse=True)


def test_brand_basket_lift_reconciles(spark, sf_dir):
    """Association-rule identities: n_both <= min(n_a, n_b); support,
    confidence, and lift re-derive from the counts and the independent
    order total; pairs below min-support are absent."""
    from golang_mapreduce_spark.operators.tpch_extra import (
        BASKET_MIN_ORDERS,
        brand_basket_lift,
    )

    rows = brand_basket_lift(spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    n_orders = (
        li.join(part, "l_partkey").select("l_orderkey").distinct().count()
    )
    for r in rows:
        assert r["brand_a"] < r["brand_b"]
        assert r["n_orders_both"] >= BASKET_MIN_ORDERS
        assert r["n_orders_both"] <= min(r["n_orders_a"], r["n_orders_b"])
        assert r["support"] == pytest.approx(
            r["n_orders_both"] / n_orders, abs=2e-6
        )
        assert r["confidence_a_to_b"] == pytest.approx(
            r["n_orders_both"] / r["n_orders_a"], abs=2e-6
        )
        assert r["lift"] == pytest.approx(
            n_orders * r["n_orders_both"] / (r["n_orders_a"] * r["n_orders_b"]),
            abs=2e-6,
        )


def test_doc_keywords_rank_semantics(spark, tmp_path, sf_dir):
    """Planted corpus: a term unique to one doc outranks corpus-wide
    terms (idf 0 when df = N); ranks are dense, scores non-increasing."""
    from golang_mapreduce_spark.operators.textstats import (
        KEYWORDS_K,
        doc_keywords_tfidf,
    )

    docs = [
        (0, "common common rare0", "en", "s0", 19),
        (1, "common uniqword uniqword", "en", "s0", 24),
        (2, "common filler", "en", "s1", 13),
    ]
    d = str(tmp_path / "kw")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    rows = doc_keywords_tfidf(spark, d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'uniqword' (tf=2, df=1) beats 'common' (idf=0)
    top1 = min(by_doc[1], key=lambda r: r["rank"])
    assert top1["term"] == "uniqword" and top1["df"] == 1
    # 'common' appears in every doc -> idf 0 -> tfidf exactly 0
    common = [r for r in rows if r["term"] == "common"]
    assert common and all(r["tfidf"] == 0.0 for r in common)
    for did, rs in by_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= KEYWORDS_K
        scores = [r["tfidf"] for r in rs]
        assert scores == sorted(scores, reverse=True)
    # real corpus: every doc with tokens emits <= K dense-ranked rows
    real = doc_keywords_tfidf(spark, sf_dir).groupBy("doc_id").count().collect()
    assert all(1 <= r["count"] <= KEYWORDS_K for r in real)


def test_heaps_curve_is_monotone_and_conserves_vocab(spark, sf_dir):
    """Cumulative docs/tokens/vocab are strictly non-decreasing, the
    final row conserves the corpus totals exactly, and β lands in the
    open (0, 1) band natural text occupies."""
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.operators.textstats import heaps_law_fit

    rows = sorted(
        heaps_law_fit(spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    assert rows
    for a, b in zip(rows, rows[1:]):
        assert a["cum_docs"] <= b["cum_docs"]
        assert a["cum_tokens"] <= b["cum_tokens"]
        assert a["cum_vocab"] <= b["cum_vocab"]
    docs = load_table(spark, sf_dir, "documents")
    last = rows[-1]
    assert last["cum_docs"] == docs.count()
    tok = docs.select(F.explode(ws_words("text")).alias("t"))
    assert last["cum_tokens"] == tok.count()
    assert last["cum_vocab"] == tok.distinct().count()
    assert len({(r["heaps_beta"], r["heaps_k"]) for r in rows}) == 1
    # the fixture vocabulary is CLOSED (31 words at every SF —
    # functions/bpe.py), so it saturates in the first decile and β
    # reads ~0: the "re-crawling what it already has" end of the band
    assert 0.0 <= rows[0]["heaps_beta"] < 0.2


def test_heaps_beta_direction_on_planted_corpora(spark, tmp_path):
    """β is direction-sensitive: an open corpus where every doc mints
    fresh tokens fits β ≈ 1 (vocab ∝ tokens); a one-word corpus reads
    exactly 0."""
    from golang_mapreduce_spark.operators.textstats import heaps_law_fit

    open_docs = [
        (i, " ".join(f"u{i}_{j}" for j in range(10)), "en", "s0", 80)
        for i in range(100)
    ]
    d1 = str(tmp_path / "open")
    spark.createDataFrame(
        open_docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d1}/documents.parquet")
    beta_open = heaps_law_fit(spark, d1).first()["heaps_beta"]
    assert beta_open == pytest.approx(1.0, abs=1e-6)

    closed_docs = [
        (i, "same same same", "en", "s0", 14) for i in range(100)
    ]
    d2 = str(tmp_path / "closed")
    spark.createDataFrame(
        closed_docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d2}/documents.parquet")
    beta_closed = heaps_law_fit(spark, d2).first()["heaps_beta"]
    assert beta_closed == pytest.approx(0.0, abs=1e-6)


def test_seasonality_profile_reconciles(spark, sf_dir):
    """<=168 cells, ISO weekday in 1..7 / hour in 0..23, counts and
    shares conserve the corpus."""
    from golang_mapreduce_spark.operators.analytics import (
        traffic_seasonality_profile,
    )

    rows = traffic_seasonality_profile(spark, sf_dir).collect()
    assert 0 < len(rows) <= 168
    assert all(1 <= r["iso_dow"] <= 7 and 0 <= r["hod"] <= 23 for r in rows)
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events
    assert abs(sum(r["traffic_share"] for r in rows) - 1.0) < 1e-4


def test_jsd_real_corpus_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = js_divergence_sources(spark, sf_dir).collect()
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_common_tokens"] <= JS_TOPV
        # rounding of the shared-mass decimals can nudge past the ideal
        # bounds by strictly less than a rounding quantum
        assert -1e-6 <= r["js_divergence"] <= math.log(2) + 1e-6
        assert -1e-6 <= r["js_normalized"] <= 1.0 + 1e-6
