"""The bench regression gate must separate uniform machine drift from a
per-query plan regression (SCALE.md 'Bench drift postmortem'): round 2
proved identical code can time 1.18x slower under load, so the gate
normalizes by the suite-median ratio before flagging.
"""

import inspect
import json
from types import SimpleNamespace

import pytest

import bench

pytestmark = pytest.mark.bench


def test_every_registered_query_is_benched():
    """VERDICT r9 'what's wrong' #1: 48 registered queries had never
    been benched, so a plan regression in them was invisible to the
    gate.  After the round-10 coverage sweep, EVERY queries() name must
    be timed (HEADLINE or EXTRA) — a new operator that skips bench.py
    now fails CI instead of silently widening the hole — and the two
    lists must stay disjoint and name only registered queries."""
    import __spark_entry__ as entry_mod

    names = set(entry_mod.queries())
    headline, extra = set(bench.HEADLINE), set(bench.EXTRA)
    assert not (headline & extra), "a query is timed twice"
    assert headline | extra <= names, sorted((headline | extra) - names)
    missing = names - headline - extra
    assert not missing, f"registered but never benched: {sorted(missing)}"


def test_every_benched_query_has_a_baseline_or_is_newly_seeded():
    """The gate can only flag what has a best_sec: every benched name
    must have a baseline entry, so a new operator that skips its seed
    run fails CI instead of leaving the gate blind to it."""
    base = json.load(open("bench_baseline.json"))["best_sec"]
    missing = [n for n in (*bench.HEADLINE, *bench.EXTRA) if n not in base]
    assert missing == [], missing


def test_uniform_drift_not_flagged():
    best = json.load(open("bench_baseline.json"))["best_sec"]
    # every query 1.25x slower: pure environment, median absorbs it
    timings = {k: v * 1.25 for k, v in best.items()}
    gate = bench.regression_check(timings)
    assert gate["checked"]
    assert gate["flagged"] == {}
    assert abs(gate["env_factor"] - 1.25) < 1e-9


def test_single_query_regression_flagged_through_drift():
    best = json.load(open("bench_baseline.json"))["best_sec"]
    timings = {k: v * 1.25 for k, v in best.items()}
    victim = sorted(best)[0]
    timings[victim] = best[victim] * 1.25 * 2.0  # 2x plan regression
    gate = bench.regression_check(timings)
    assert list(gate["flagged"]) == [victim]
    assert gate["flagged"][victim]["normalized_ratio"] > 1.9


def test_final_line_fits_driver_tail_budget():
    """BENCH_r03 was recorded "parsed": null because the full-detail
    line outgrew the driver's tail capture; the compact line must stay
    under FINAL_LINE_BUDGET even in the worst realistic case (every
    headline query at a 4-digit-seconds timing, gate flagging many
    queries with long names)."""
    timings = {name: 9999.999 for name in bench.HEADLINE}
    extra = {name: 9999.999 for name in bench.EXTRA}
    big = {
        "total": 99999.999,
        "queries": {f"big:{n}": 9999.999 for n in bench.BIG_QUERIES},
        "gen_sec": 999.9,
        "sf": 1.0,
        "dir": "/tmp/gmrs_sf1",
    }
    gate = {
        "checked": True,
        "env_factor": 1.234,
        "retried": [
            f"big:a_rather_long_query_name_number_{i}" for i in range(40)
        ],
        "flagged": {
            f"big:a_rather_long_query_name_number_{i}": {
                "sec": 9999.9, "best_sec": 1.0, "normalized_ratio": 9.9,
            }
            for i in range(40)
        },
    }
    line = json.dumps(
        bench.final_line(99999.999, timings, extra, big, gate, 0.1)
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET, len(line)


def test_update_baseline_merges_minima(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _: str(tmp_path)
    )
    base = tmp_path / "bench_baseline.json"
    base.write_text(json.dumps(
        {"best_sec": {"wc": 1.0, "indexer": 2.0}, "note": "n"}
    ))
    bench.update_baseline({"wc": 0.5, "indexer": 3.0, "big:new_q": 4.0})
    doc = json.loads(base.read_text())
    assert doc["best_sec"] == {"wc": 0.5, "indexer": 2.0, "big:new_q": 4.0}
    assert doc["note"] == "n"  # non-best keys preserved


def test_missing_baseline_is_soft(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _: str(tmp_path)
    )
    gate = bench.regression_check({"wc": 1.0})
    assert gate == {"checked": False, "flagged": {}}


def test_every_big_query_has_a_big_baseline():
    """The 10x section's gate coverage mirror of the sf0.1 pin above:
    every BIG_QUERIES member must have a recorded big: best_sec (round
    12 closed the last two gaps), so a future big-list addition that
    skips its quiet seed run fails CI instead of leaving the 10x gate
    blind to it.  BIG_QUERIES must also name only registered queries."""
    import json as _json

    import __spark_entry__ as entry_mod

    names = set(entry_mod.queries())
    assert set(bench.BIG_QUERIES) <= names, sorted(
        set(bench.BIG_QUERIES) - names
    )
    best = _json.load(open("bench_baseline.json"))["best_sec"]
    missing = [n for n in bench.BIG_QUERIES if f"big:{n}" not in best]
    assert missing == [], missing


def test_final_line_gate_counts_match_full_sets():
    """VERDICT r16 #4: n_flagged counts the FULL final flagged set while
    the name list is truncated to 5 for the line budget; the payload
    must say so explicitly instead of looking inconsistent."""
    flagged = {
        f"q{i:02d}": {"sec": 2.0, "best_sec": 1.0, "normalized_ratio": 2.0}
        for i in range(22)
    }
    gate = {"checked": True, "env_factor": 1.0, "flagged": flagged,
            "retried": [f"q{i:02d}" for i in range(12)]}
    payload = bench.final_line(1.0, {}, {}, {}, gate, 0.1)
    g = payload["gate"]
    assert g["n_flagged"] == 22 and len(g["flagged"]) == 5
    assert g["n_retried"] == 12 and len(g["retried"]) == 8
    assert g["lists_truncated"] is True

    small = {"checked": True, "env_factor": 1.0, "retried": ["a"],
             "flagged": {"b": {}}}
    g2 = bench.final_line(1.0, {}, {}, {}, small, 0.1)["gate"]
    assert g2["n_flagged"] == 1 and g2["n_retried"] == 1
    assert "lists_truncated" not in g2


def test_gate_reads_the_median_of_k_passes(tmp_path, monkeypatch):
    """Every benched name is timed in K interleaved passes and gated once,
    on its median.  A name that reads 8x on the cold pass only is a
    warmup reading, not a regression; a name at 2x in every pass is.
    A 10x query that raises drops the 10x section, not the run."""
    monkeypatch.setattr(bench.os.path, "dirname", lambda _: str(tmp_path))
    names = [f"q{i:02d}" for i in range(9)]
    (tmp_path / "bench_baseline.json").write_text(
        json.dumps({"best_sec": dict.fromkeys(names, 1.0)})
    )
    calls: list[str] = []

    def fake_timed(spark, name, qdir):
        calls.append(name)
        if name == "q00":
            return 8.0 if calls.count(name) == 1 else 1.0
        if name.startswith("big:"):
            raise RuntimeError("10x OOM")
        return 2.0 if name == "q01" else 1.0

    monkeypatch.setattr(bench, "timed", fake_timed)
    passes, big_error = bench.time_passes(None, {n: (n, "sf") for n in names})
    assert calls == names * bench.K, "pass p must finish before pass p+1"
    assert big_error is None
    assert passes["q00"] == [8.0, 1.0, 1.0]
    assert all(len(v) == bench.K for v in passes.values())
    gate = bench.regression_check(bench.medians(passes))
    assert sorted(gate["flagged"]) == ["q01"]
    assert "time_passes(" in inspect.getsource(bench.main)

    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    jobs = {"q02": ("q02", "sf"), "big:q02": ("big:q02", "big")}
    passes, big_error = bench.time_passes(spark, jobs)
    assert passes == {"q02": [1.0] * bench.K}
    assert "10x OOM" in big_error


def test_final_line_keeps_its_keys():
    """The driver parses the final line: every top-level and gate key
    stays, and nothing is re-timed, so the gate reads n_retried 0 and
    retried []."""
    best = json.load(open("bench_baseline.json"))["best_sec"]
    gate = bench.regression_check(best)
    payload = bench.final_line(
        1.0, {"wc": 1.0}, {"q2_min_cost_supplier": 1.0}, {"skipped": True},
        gate, 0.1,
    )
    assert set(payload) == {
        "metric", "value", "unit", "sf", "queries", "extra_total",
        "extra_n", "big_total", "big_n", "gate", "detail",
    }
    assert set(payload["gate"]) == {
        "checked", "env_factor", "n_retried", "retried", "n_flagged",
        "flagged",
    }
    assert payload["gate"]["n_retried"] == 0
    assert payload["gate"]["retried"] == []
