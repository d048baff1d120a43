#!/usr/bin/env python
"""Headline-query benchmark.

Runs a representative slice of the engine (MR-parity, relational joins,
windows, dedup, similarity, text analysis) at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

The final line is kept COMPACT (<= FINAL_LINE_BUDGET bytes): the 26
headline per-query timings plus suite totals and a gate summary.  The
driver's tail capture held 4,130 bytes in round 2 and truncated round
3's full-detail line (BENCH_r03 recorded "parsed": null), so per-query
detail for the extra + big-scale sections and the full regression-gate
payload go to the BENCH_DETAIL.json sidecar instead
(tests/test_bench_gate.py pins the worst-case line size).

Each query is forced end-to-end with a noop write (full computation, no
driver-side collection cost).

Every benched name is timed in K = 3 interleaved passes: HEADLINE, then
EXTRA, then the 10x BIG_QUERIES as ``big:<name>``, and pass p times every
name before pass p+1 starts.  A host stall or a first-touch warmup then
lands in one reading of a name, not in all of them.  ``queries``,
``queries_extra`` and ``queries_big_scale["queries"]`` report each name's
median of K; BENCH_DETAIL.json ``passes`` keeps the K readings in pass
order, so the cold first pass stays visible.  The regression gate runs
once, on the medians.  A run costs about K full passes of the suite
(the earlier single cold pass plus warm retries cost ~1.5-1.8).

Env knobs: SPARK_GRAFT_SKIP_BIG=1 skips the 10x section;
SPARK_GRAFT_UPDATE_BASELINE=1 merges this run's per-query medians into
bench_baseline.json (quiet runs only — never under driver load);
SPARK_GRAFT_BENCH_STRICT=1 exits nonzero if the gate flags.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from golang_mapreduce_spark.session import get_session  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

HEADLINE = [
    "wc",
    "indexer",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q10_returned_items",
    "topk_orders_per_customer",
    "window_running_spend",
    "tumbling_hourly",
    "session_windows_30m",
    "json_events",
    "dedup_exact",
    "minhash_signatures",
    "dedup_minhash_pairs",
    "simhash_signatures",
    "knn_bruteforce",
    "ann_ivf_topk",
    "quality_scores",
    "doc_fingerprints",
    "ngram_jaccard_pairs",
    "neardup_clusters",
    "tfidf_top_terms",
    "stats_summary",
    "pivot_segment_revenue",
    "salted_join_revenue",
]

#: Every other registered query, in registry order — timed separately
#: so the 26-query HEADLINE list (and its suite total) stays per-query
#: comparable with BENCH_r01.
EXTRA = [n for n in entry_mod.queries() if n not in HEADLINE]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, fn, sf_dir: str) -> float:
    """Force one query end-to-end and return wall seconds.

    After the timer stops, release every cache the operator created:
    several operators persist() DataFrames their lazy result re-reads
    (minhash signature trees, the bottom-k containment shingle relation),
    so the release is harness-owned by design — without it a 140+-query
    bench run accumulates persists until LRU eviction (VERDICT r7 #3).
    The clear sits OUTSIDE the timed region: each query is timed
    cache-clean, and its recorded cost already includes building its own
    persists.  tests/test_bench_hygiene.py pins the no-leak invariant.
    """
    t0 = time.perf_counter()
    force(fn(spark, sf_dir))
    sec = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    return sec


#: Big-scale section: the sf0.1 suite finishes in <4 s/query, where
#: fixed overhead hides plan differences (VERDICT r2 #6) — this section
#: re-times a cross-family slice at 10x the bench SF (derived on first
#: run by tools/scalegen: offset-keyed fact replicas, dims unchanged).
#: This is what exposed the fixed-centroid-step quadratic blowup in the
#: IVF/PQ family (17s/32s -> 7s/14s after the adaptive-step fix).
BIG_SCALE_K = 10
BIG_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    # Skew join at 10x: ONLY the production form (replicate detected hot
    # keys).  The pedagogical salted_join_revenue (UNIFORM 8x build-side
    # replication) pays its 8x shuffle cost by construction, so its 10x
    # number is a property of the demo, not the engine — it sat at ~3x
    # normalized every round (r2-r4 warm runs) for exactly that reason
    # and is benched at sf0.1 only (headline list, where the demo cost
    # is the point).
    "hotkey_salted_join_revenue",
    "window_running_spend",
    "dedup_exact",
    "minhash_signatures",
    "tfidf_top_terms",
    "knn_numpy_batched",
    "ann_ivf_topk",
    "pq_adc_topk",
    "asof_purchase_click",
    "session_windows_30m",
    "decontaminate_docs",
    "boilerplate_ngrams",
    "packed_sequences",
    "int8_quant_topk",
    "ann_ivf_adaptive",
    "pq_residual_topk",
    "lang_stopword_quality",
    "doc_repetition_scores",
    "bm25_search",
    "shuffle_shard_manifest",
    "hourly_anomalies",
    "doc_perplexity_bigram",
    "image_phash_pairs",
    "scd2_customer_orders",
    "retention_cohorts",
    # round-4 additions: a scan-bound text op, the digest-shuffle dedup,
    # and the truncated-dim retrieval audit (2 full-collection scans)
    "quality_linear_score",
    "blob_exact_dedup",
    "matryoshka_recall",
    # round-5 additions: the scan-bound PII regex pass and the
    # two-LEAD window + pattern aggregate over 10x events
    "pii_rates",
    "event_ngram_patterns",
    # round-6 additions (VERDICT r5 #7): the broadcast-stats DSIR pass,
    # the hash-only novelty aggregate, the regex-bound normalized-dedup
    # scan, and the SemDeDup chain.  Replicated-fixture degeneracy
    # (every doc/vector has k-1 exact copies) makes semantic groups k×
    # denser — a useful worst case, like minhash's, not a typical one.
    "dsir_importance_weights",
    "ngram_novelty_curve",
    "dedup_normalized",
    "semantic_dedup_keep",
    "topic_balanced_select",
    # round-11 additions: the shuffle-free chunk manifest + its dup
    # spectrum (chunk hashes collide k x denser on replicated fixtures,
    # the standing worst-case note), the scan-bound script census, the
    # user-keyed cadence screen, and the vocab-relation keyness pass
    "rag_chunk_manifest",
    "chunk_dup_spectrum",
    "script_mix_audit",
    "bot_activity_heuristic",
    "source_keyness_logodds",
    # round-12 additions: the hash-shuffle shard manifest (dup groups
    # collide k x denser on replicated fixtures, the standing
    # worst-case note) and the broadcast-pool reranker audit (stage-2
    # pair cost constant; only the stage-1 scan scales)
    "shard_dup_manifest",
    "crossencoder_rerank_audit",
    # round-13 composed retrieval: stage 1 scans P/C of the collection
    # per query (the IVF story); stage 2's pair cost is pool-bounded —
    # only the probe/assignment passes scale with N
    "ivf_ce_retrieval",
    # round-13 writer audit: dedup_exact's certified shuffle shape (hash
    # + two ints per row) plus a constant 8-row rollup — dup groups
    # collide k x denser on replicated fixtures, the standing worst case
    "training_shard_balance_audit",
    # round-14 tuning tables: the probe curve's heavy passes are the
    # truth scan + ONE cached BLAS assignment (curve math is C rows);
    # the threshold sweep rides minhash_calibration's banded-collision
    # relation (collisions densify k x on replicated fixtures — the
    # standing LSH worst case — but the 16-row grid stays constant)
    "ivf_probe_recall_curve",
    "lsh_threshold_sweep",
    # round-15 tuning table: same heavy passes as the probe curve (one
    # truth scan + ONE cached BLAS assignment); the 20-row mass grid
    # and all curve math are queries x C rows, constant in N
    "ivf_mass_recall_curve",
]


def generate_big_scale(spark, sf_dir: str, sf) -> dict:
    """Generate-if-absent the 10x dataset for BIG_QUERIES.  Soft-fails
    (returns {'error': ...}) so the headline JSON always prints."""
    import tempfile

    from golang_mapreduce_spark.tools import scalegen

    big_dir = os.environ.get(
        "SPARK_GRAFT_BIG_DIR",
        os.path.join(tempfile.gettempdir(), "gmrs_sf1"),
    )
    try:
        t0 = time.perf_counter()
        scalegen.generate(spark, sf_dir, big_dir, k=BIG_SCALE_K)
        return {
            "sf": (sf * BIG_SCALE_K if isinstance(sf, float) else sf),
            "dir": big_dir,
            "gen_sec": round(time.perf_counter() - t0, 3),
        }
    except Exception as e:  # noqa: BLE001 - diagnostic surface
        return {"error": repr(e)[:300]}


#: Interleaved timing passes per benched name; every reported number is
#: the median of K readings.
K = 3


def time_passes(spark, jobs: dict) -> tuple[dict[str, list[float]], str | None]:
    """Time every job in K interleaved passes and return (name -> its K
    readings in pass order, the 10x section's error or None).

    ``jobs`` maps name -> (query fn, data dir), in timing order.  Pass p
    times every name before pass p+1 starts.  A ``big:`` query that
    raises drops the whole 10x section (its readings and its remaining
    timings), like a failed 10x generation, so the headline line still
    prints; any other query's error propagates."""
    passes: dict[str, list[float]] = {name: [] for name in jobs}
    big_error = None
    for _ in range(K):
        for name, (fn, qdir) in jobs.items():
            if big_error and name.startswith("big:"):
                continue
            try:
                passes[name].append(timed(spark, fn, qdir))
            except Exception as e:  # noqa: BLE001 - the 10x section soft-fails
                if not name.startswith("big:"):
                    raise
                spark.catalog.clearCache()
                big_error = repr(e)[:300]
    if big_error:
        passes = {n: v for n, v in passes.items() if not n.startswith("big:")}
    return passes, big_error


def medians(passes: dict[str, list[float]]) -> dict[str, float]:
    return {name: round(statistics.median(v), 3) for name, v in passes.items()}


#: Per-query regression gate.  Absolute wall-clock swings uniformly with
#: machine load (round 2 measured the identical round-1 code at 1.18x its
#: round-1 time under driver load; re-run quiet, both were ~36.4 s), so a
#: raw threshold would flag the environment, not the plan.  Normalize it
#: away: compute each query's ratio vs the best recorded time
#: (bench_baseline.json), divide by the suite's MEDIAN ratio (the
#: environment factor), and flag only queries whose *normalized* ratio
#: exceeds the threshold — a per-query plan regression moves one query
#: against the suite; load moves them all together.
#: 1.5, up from the original 1.3: two full quiet-probe audits (rounds 5
#: and 6) found every 1.3-1.45x flag to be host-stall noise — the same
#: query re-timed warm on a quiet machine returned to (or beat) its
#: recorded best with the plan unchanged — while every REAL plan
#: regression ever caught (fixed-centroid quadratic, single-partition
#: sorts) exceeded 2x.  1.5 keeps one-sided headroom for detection
#: without flagging a dozen plan-identical queries per bursty run.
#: The gate reads each name's median of K passes, once per run.
REGRESSION_THRESHOLD = 1.5


def regression_check(timings: dict[str, float]) -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_baseline.json")
    try:
        best = json.load(open(path))["best_sec"]
    except (OSError, KeyError, ValueError):
        return {"checked": False, "flagged": {}}
    ratios = {
        k: t / best[k] for k, t in timings.items() if k in best and best[k] > 0
    }
    if not ratios:
        return {"checked": False, "flagged": {}}
    env_factor = statistics.median(ratios.values())
    flagged = {
        k: {
            "sec": timings[k],
            "best_sec": best[k],
            "normalized_ratio": round(r / env_factor, 3),
        }
        for k, r in ratios.items()
        if r / env_factor > REGRESSION_THRESHOLD
    }
    return {
        "checked": True,
        "env_factor": round(env_factor, 3),
        "flagged": flagged,
    }


#: Hard budget for the single driver-visible JSON line.  The driver's
#: tail capture held a 4,130-byte line in round 2 and truncated round
#: 3's (BENCH_r03 "parsed": null); VERDICT r3 set the budget at 2 KB.
FINAL_LINE_BUDGET = 2048


def final_line(total, timings, extra, big, gate, sf) -> dict:
    """The compact driver-facing payload: headline per-query timings
    (the frozen 26-query list — comparable r1..rN), suite totals, and a
    gate SUMMARY (counts + up to 5 names).  Everything else lives in
    BENCH_DETAIL.json.  ``retried``/``n_retried`` stay for the driver's
    parser; nothing is re-timed any more, so a bench run reports [] / 0."""
    flagged = sorted(gate.get("flagged", {}))
    retried = gate.get("retried", [])
    payload = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": timings,
        "extra_total": round(sum(extra.values()), 3),
        "extra_n": len(extra),
        "big_total": big.get("total"),
        "big_n": len(big.get("queries", {})),
        "gate": {
            "checked": gate.get("checked", False),
            "env_factor": gate.get("env_factor"),
            "n_retried": len(retried),
            "retried": retried[:8],
            "n_flagged": len(flagged),
            "flagged": flagged[:5],
        },
        "detail": "BENCH_DETAIL.json",
    }
    # n_flagged/n_retried always count the FULL sets; the name lists
    # are truncated to fit FINAL_LINE_BUDGET.  Say so
    # explicitly when truncation happened (VERDICT r16 #4: "n_flagged:
    # 22" next to a 5-name list read as an inconsistency) — the full
    # lists are always in BENCH_DETAIL.json.
    if len(flagged) > 5 or len(retried) > 8:
        payload["gate"]["lists_truncated"] = True
    return payload


def update_baseline(all_timings: dict[str, float]) -> None:
    """Merge this run's per-query medians into bench_baseline.json where
    they beat the recorded best (including big: entries).  Opt-in via
    SPARK_GRAFT_UPDATE_BASELINE=1 — only meaningful on a quiet machine."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_baseline.json")
    try:
        doc = json.load(open(path))
    except (OSError, ValueError):
        doc = {"best_sec": {}}
    best = doc.setdefault("best_sec", {})
    for k, t in all_timings.items():
        if t > 0 and (k not in best or t < best[k]):
            best[k] = t
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


def write_detail(detail_doc: dict, cpus) -> None:
    """Write the per-query detail sidecar twice: the fixed path
    (back-compat for existing readers) AND a cpus-suffixed copy, so a
    later run at a different core count (the driver's 8-CPU scaling
    pass) cannot destroy the graded run's per-query extra/big record
    (VERDICT r16 #2)."""
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("BENCH_DETAIL.json", f"BENCH_DETAIL_c{cpus}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(detail_doc, f, indent=1, sort_keys=True)
            f.write("\n")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        app_name="gmrs-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            # local mode runs everything in the driver JVM; the 1g
            # default OOMs the 10x big-scale section
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # JVM/codegen/scan warmup on cheap queries touching each fact table
    # so the first timed query doesn't pay one-time boot costs.
    for warm in ("file_counts", "q6_revenue_forecast", "date_funcs"):
        force(queries[warm](spark, sf_dir))
    spark.catalog.clearCache()

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = sf_dir
    big = (
        {"skipped": True}
        if os.environ.get("SPARK_GRAFT_SKIP_BIG")
        else generate_big_scale(spark, sf_dir, sf)
    )
    jobs = {name: (queries[name], sf_dir) for name in HEADLINE + EXTRA}
    if "dir" in big:
        jobs.update(
            {f"big:{n}": (queries[n], big["dir"]) for n in BIG_QUERIES}
        )
    passes, big_error = time_passes(spark, jobs)
    all_timings = medians(passes)
    timings = {name: all_timings[name] for name in HEADLINE}
    extra = {name: all_timings[name] for name in EXTRA}
    if big_error:
        big = {"error": big_error}
    elif "dir" in big:
        big["queries"] = {n: all_timings[f"big:{n}"] for n in BIG_QUERIES}
        big["total"] = round(sum(big["queries"].values()), 3)
    total = round(sum(timings.values()), 3)
    gate = regression_check(all_timings)
    if os.environ.get("SPARK_GRAFT_UPDATE_BASELINE"):
        update_baseline(all_timings)
    detail_doc = {
        "queries": timings,
        "queries_extra": extra,
        "queries_big_scale": big,
        "passes": passes,
        "sf": sf,
        "cpus": cpus,
        "regression_gate": gate,
    }
    write_detail(detail_doc, cpus)
    payload = final_line(total, timings, extra, big, gate, sf)
    line = json.dumps(payload)
    if len(line) > FINAL_LINE_BUDGET:  # never die unprinted: degrade
        payload["queries"] = {"suite_total": total}
        payload["truncated"] = True
        line = json.dumps(payload)
    print(line)
    spark.stop()
    if gate["flagged"] and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
        sys.exit(1)


if __name__ == "__main__":
    main()
