#!/usr/bin/env python
"""Registry-wide cache-handle accounting sweep (VERDICT r14 #4).

For every batch registry query at sf0.001: clearCache, snapshot the
persistent-RDD registry, build + collect the query, and compare the
registry growth against the handles the result exposes
(``_gmrs_shared_caches``).  Ops that localCheckpoint manage their own
blocks (the registry cannot shrink back past them), so the base is
re-read per op and restoration is checked only for ops that expose
handles.  Output: one line per op with a mismatch, then a summary —
the fix list for the round-15 hardening, and the source of the pinned
HANDLE_OPS list in tests/test_cache_hygiene.py."""
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from golang_mapreduce_spark.session import get_session  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: Streaming jobs drive their own micro-batch lifecycles; scheduler
#: probes collect() by design.  Both are exercised elsewhere.
SKIP_PREFIXES = ("streaming_",)


def main() -> None:
    spark = get_session(
        app_name="gmrs-cache-accounting",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
            "spark.sql.ui.retainedExecutions": "16",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark.sparkContext._jsc

    # id-SET accounting, not size deltas: the ContextCleaner GCs stale
    # checkpoint RDDs at arbitrary times, which made size-based deltas
    # flaky — two spurious MISMATCH lines in the round-15 sweep were
    # exactly this (the pinned test in tests/test_cache_hygiene.py uses
    # the same set-difference for the same reason).
    def persistent_ids() -> set:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    # the three checkpoint-graph ops release their own caches and keep
    # only localCheckpoint RDD blocks (which handles cannot release by
    # design) — the pinned test covers them separately, so the sweep
    # reports them as a category instead of MISMATCH noise
    from tests.test_cache_hygiene import SELF_MANAGED

    queries = entry_mod.queries()
    mismatches, clean, errors, self_managed = [], [], [], []
    for name, fn in sorted(queries.items()):
        if name.startswith(SKIP_PREFIXES):
            continue
        spark.catalog.clearCache()
        before = persistent_ids()
        try:
            df = fn(spark, SF_DIR)
            df.collect()
            handles = tuple(getattr(df, "_gmrs_shared_caches", ()))
            grown = len(persistent_ids() - before)
            if name in SELF_MANAGED:
                self_managed.append((name, grown, len(handles)))
            elif grown != len(handles):
                mismatches.append((name, grown, len(handles)))
                print(f"MISMATCH {name}: persists={grown} handles={len(handles)}")
            else:
                if handles:
                    for h in handles:
                        h.unpersist(blocking=True)
                    rest = len(persistent_ids() - before)
                    if rest != 0:
                        mismatches.append((name, f"restore_left_{rest}", len(handles)))
                        print(f"NO-RESTORE {name}: {rest} left after release")
                        continue
                clean.append((name, grown))
        except Exception as e:  # noqa: BLE001
            errors.append((name, repr(e)[:200]))
            print(f"ERROR {name}: {repr(e)[:200]}")
            traceback.print_exc(limit=1)
    print(json.dumps({
        "clean": len(clean),
        "with_handles": sorted([n for n, g in clean if g]),
        "self_managed": self_managed,
        "mismatches": mismatches,
        "errors": errors,
    }, indent=1))


if __name__ == "__main__":
    main()
