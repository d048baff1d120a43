"""Driver-window rotation ledger — generated, not narrated.

The external driver records CORRECTNESS rows for only the FIRST 50 entries
of ``__spark_entry__.queries()``, so the ordering of the window list IS the
round's correctness coverage.  This module computes that ordering from the
``CORRECTNESS_r*.json`` ledger.

Standing rotation priority (spark-graft conventions):

1. never-driver-checked (new this round),
2. queries whose code path changed this round,
3. explicit pins (e.g. ``wc`` + ``indexer``, the reference's own golden
   pair — ``main/test-mr.sh:78-142``),
4. stalest-first fill: ascending latest driver round, round-1-cohort
   members first within a tier (they are the scarce floor resource),
   then registration order,
5. a floor of ``R1_FLOOR`` round-1-cohort entries per window, enforced by
   displacing the newest-latest non-r1 fill entries (reverse fill order)
   in favour of the stalest not-yet-selected r1 entries.  Every displaced
   entry must keep an in-window family mate; the mates are prose in the
   ``__spark_entry__`` window comment, the *math* lives here.

``propose_window`` is pure and deterministic.  ``window_for_round(N, ...)``
runs it over the ledger as of round N-1 (``through_round=N-1``), so the
driver landing round N's own CORRECTNESS file cannot invalidate the
window.  ``round15_window()`` is the one committed binding:
``tests/test_rotation.py`` asserts ``__spark_entry__._ROUND15_WINDOW``
equals it exactly.  The next round runs the CLI with ``--round N`` and
its new/changed/pinned names, then replaces the literal and this binding.
"""

from __future__ import annotations

import json
import os
from glob import glob

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WINDOW_SIZE = 50
R1_FLOOR = 15


def latest_rounds(
    repo_root: str = REPO_ROOT, *, through_round: int | None = None
) -> dict[str, int]:
    """name -> latest driver round with a CORRECTNESS row (any colour).

    ``through_round`` bounds the ledger to the state that EXISTED when a
    window was generated (VERDICT r8 #1): the round-N window is computed
    from rounds 1..N-1, but the driver lands ``CORRECTNESS_rN.json`` into
    the same directory after the round's last commit, which would
    otherwise mutate the ledger the round-N pin test validates against —
    a gate that goes red on schedule.  ``window_for_round`` therefore
    passes ``through_round=N-1``.
    """
    latest: dict[str, int] = {}
    for path in sorted(glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        stem = os.path.basename(path)
        rnd = int(stem[len("CORRECTNESS_r"):].split(".")[0])
        if through_round is not None and rnd > through_round:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def r1_cohort(repo_root: str = REPO_ROOT) -> set[str]:
    with open(os.path.join(repo_root, "CORRECTNESS_r01.json")) as fh:
        return set(json.load(fh))


def registration_order() -> list[str]:
    """Underlying module registration order (pre-window reordering)."""
    import __spark_entry__ as entry_mod

    merged: dict = {}
    for mod in entry_mod._MODULES:
        merged.update(mod.QUERIES)
    return list(merged)


def propose_window(
    latest: dict[str, int],
    r1: set[str],
    reg_order: list[str],
    *,
    new: tuple[str, ...] = (),
    changed: tuple[str, ...] = (),
    pins: tuple[str, ...] = (),
    size: int = WINDOW_SIZE,
    floor: int = R1_FLOOR,
) -> list[str]:
    """Deterministic next-round window per the standing rotation priority."""
    reg_idx = {n: i for i, n in enumerate(reg_order)}
    head: list[str] = []
    for name in (*new, *changed, *pins):
        if name not in reg_idx:
            raise ValueError(f"not a registered query: {name}")
        if name not in head:
            head.append(name)
    if len(head) > size:
        raise ValueError("head (new+changed+pins) exceeds window size")

    def fill_key(name: str) -> tuple[int, int, int]:
        return (latest[name], 0 if name in r1 else 1, reg_idx[name])

    candidates = sorted(
        (n for n in reg_order if n in latest and n not in head), key=fill_key
    )
    fill = candidates[: size - len(head)]
    pool = candidates[size - len(head):]

    def r1_count() -> int:
        return sum(1 for n in (*head, *fill) if n in r1)

    while r1_count() < floor:
        displaceable = [n for n in fill if n not in r1]
        wanted = [n for n in pool if n in r1]
        if not displaceable or not wanted:
            raise ValueError("cannot satisfy r1 floor")
        fill.remove(displaceable[-1])  # newest-latest non-r1 fill entry
        fill.append(wanted[0])  # stalest r1 entry not yet selected
        pool.remove(wanted[0])
    fill.sort(key=fill_key)
    return [*head, *fill]


def validate_window(
    window: list[str],
    latest: dict[str, int],
    r1: set[str],
    reg_order: list[str],
    *,
    new: tuple[str, ...] = (),
    changed: tuple[str, ...] = (),
    pins: tuple[str, ...] = (),
    size: int = WINDOW_SIZE,
    floor: int = R1_FLOOR,
) -> list[str]:
    """Return the list of constraint violations (empty == valid)."""
    problems: list[str] = []
    if len(window) != size:
        problems.append(f"window has {len(window)} entries, want {size}")
    if len(set(window)) != len(window):
        problems.append("window has duplicate entries")
    registered = set(reg_order)
    for name in window:
        if name not in registered:
            problems.append(f"unregistered query in window: {name}")
    if sum(1 for n in window if n in r1) < floor:
        problems.append("r1-cohort floor not met")
    expected = propose_window(
        latest, r1, reg_order, new=new, changed=changed, pins=pins,
        size=size, floor=floor,
    )
    if window != expected:
        for i, (got, want) in enumerate(zip(window, expected)):
            if got != want:
                problems.append(
                    f"window diverges from ledger at index {i}: "
                    f"got {got!r}, ledger says {want!r}"
                )
                break
        problems.append("window != propose_window output")
    return problems


def window_for_round(
    round_no: int,
    *,
    new: tuple[str, ...] = (),
    changed: tuple[str, ...] = (),
    pins: tuple[str, ...] = (),
) -> list[str]:
    """Round-N window over the rounds-1..N-1 ledger."""
    return propose_window(
        latest_rounds(through_round=round_no - 1),
        r1_cohort(),
        registration_order(),
        new=new,
        changed=changed,
        pins=pins,
    )


#: Round-15 parameters.  Head: the two round-14 additions — the only
#: registered queries with zero driver rows (VERDICT r14 #1) — then the
#: round's EIGHT code-path changes, no pins.  Changed: the measured
#: subtree-reuse wave 2 (VERDICT r14 #2: single-tokenization DSIR pair,
#: brand_basket_lift's persisted basket relation + broadcast count
#: joins, ann_recall_at_k's persisted exact side), the shared
#: ``_probe_walk`` factor across the IVF family (VERDICT r14 #3:
#: ann_ivf_topk / pq_residual_topk / ivf_int8_topk / ivf_ce_retrieval —
#: behavior-identical, but it rewrites five oracle-paired orderings so
#: every touched op re-certifies; ivf_probe_recall_curve rides the NEW
#: head), and pq_residual_topk's persisted residual relation (VERDICT
#: r14 #6 — its BLAS assignment pass previously executed three times).
#: The with_shared_caches hardening (VERDICT r14 #4) is Python-side
#: metadata only — no plan, result, or execution change — so handle-only
#: ops are NOT marked changed; the registry-wide accounting test is
#: their gate.  Fill: the twelve r8 deferrals lead (VERDICT r14 #1:
#: eleven fill-displaced + the pin-displaced doc_repetition_scores —
#: "they must not defer twice"), then the r9 tier; the 15-entry r1
#: floor pulls from the r11/r12 tiers.
ROUND15_NEW: tuple[str, ...] = (
    "ivf_probe_recall_curve",
    "lsh_threshold_sweep",
)
ROUND15_CHANGED: tuple[str, ...] = (
    "ann_ivf_topk",
    "pq_residual_topk",
    "ivf_int8_topk",
    "ivf_ce_retrieval",
    "ann_recall_at_k",
    "dsir_importance_weights",
    "dsir_topk_selection",
    "brand_basket_lift",
)
# streaming_packed_sequences was ALSO changed this round (test-source
# synthesis rewritten driver-free: doc_id-value range shards via
# executor-side parquet writes, streaming/jobs.py) but is already an
# in-window r9 stale drain, so the driver re-certifies it without a
# CHANGED registration — adding it here would displace a fill row the
# pinned head tests forbid.
ROUND15_PINS: tuple[str, ...] = ()


def round15_window() -> list[str]:
    return window_for_round(
        15, new=ROUND15_NEW, changed=ROUND15_CHANGED, pins=ROUND15_PINS
    )


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description="Generate a driver-window proposal from the "
        "CORRECTNESS ledger.  With no flags, prints the committed "
        "round-15 window."
    )
    ap.add_argument("--round", type=int, default=None,
                    help="round number N; ledger bound = N-1")
    ap.add_argument("--new", default="", help="comma-separated NEW names")
    ap.add_argument("--changed", default="",
                    help="comma-separated CHANGED names")
    ap.add_argument("--pins", default="", help="comma-separated pins")
    args = ap.parse_args()

    def _split(v: str) -> tuple[str, ...]:
        return tuple(x for x in v.split(",") if x)

    if args.round is None:
        round_no, window = 15, round15_window()
    else:
        round_no = args.round
        window = window_for_round(
            round_no,
            new=_split(args.new),
            changed=_split(args.changed),
            pins=_split(args.pins),
        )
    latest = latest_rounds(through_round=round_no - 1)
    r1 = r1_cohort()
    print(f"# round-{round_no} window ({len(window)} entries, "
          f"{sum(1 for n in window if n in r1)} r1-cohort)")
    for name in window:
        tags = [f"r{latest.get(name, 0)}"]
        if name in r1:
            tags.append("r1-cohort")
        print(f"{name:40s} {' '.join(tags)}")
    stale = sorted(
        ((v, k) for k, v in latest.items() if k not in set(window)),
    )[:12]
    print("\n# stalest deferred (latest-round, name):")
    for v, k in stale:
        print(f"  r{v} {k}")


if __name__ == "__main__":  # pragma: no cover
    main()
