"""Fault-tolerance demonstration — the reference's hardest test is crash
recovery (workers random-os.Exit mid-task, 6.5840/src/main/test-mr.sh:
283-330, "crash test"); Spark's analog is task re-execution
(spark.task.maxFailures) and speculative straggler re-launch
(spark.speculation, coordinator.go:194-231's 10 s timer).

Both runs happen in a fresh subprocess JVM because retries need a
``local[N, maxFailures]`` master, which the shared test session doesn't
use.  The invariant under test is the reference's: duplicate/retried
task attempts must not change committed output (at-least-once execution
+ idempotent commit = exactly-once results)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

pytestmark = [pytest.mark.streaming, pytest.mark.python_udf]

_RETRY_SCRIPT = r"""
import os, sys
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

marker_dir = sys.argv[1]
spark = (
    SparkSession.builder.master("local[4, 2]")  # 2 task attempts
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName("retry-demo")
    .getOrCreate()
)

df = spark.range(0, 10_000, 1, 8)

def flaky(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 3 and ctx.attemptNumber() == 0:
        # crash exactly once, first attempt only (reference: worker
        # os.Exit mid-task; here: task attempt dies, scheduler retries)
        with open(os.path.join(marker_dir, "crashed"), "w") as f:
            f.write("attempt 0 of partition 3 failed")
        raise RuntimeError("injected task failure (attempt 0)")
    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"], "v": pdf["id"] * 2})

out = df.mapInPandas(flaky, "id long, v long")
total, cnt = out.groupBy().sum("v").collect()[0][0], out.count()
expected = 2 * sum(range(10_000))
assert cnt == 10_000, f"row count after retry: {cnt}"
assert total == expected, f"sum after retry: {total} != {expected}"
assert os.path.exists(os.path.join(marker_dir, "crashed")), "failure never injected"
print("RETRY_OK")
"""

_SPECULATION_SCRIPT = r"""
import time
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.speculation", "true")
    .config("spark.speculation.interval", "100ms")
    .config("spark.speculation.multiplier", "1.1")
    .config("spark.speculation.quantile", "0.5")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName("speculation-demo")
    .getOrCreate()
)

df = spark.range(0, 8_000, 1, 8)

def straggler(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 7 and ctx.attemptNumber() == 0:
        time.sleep(4)  # straggle; a speculative copy may race this attempt
    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"], "v": pdf["id"] * 3})

out = df.mapInPandas(straggler, "id long, v long")
total, cnt = out.groupBy().sum("v").collect()[0][0], out.count()
expected = 3 * sum(range(8_000))
assert cnt == 8_000, f"row count under speculation: {cnt}"
assert total == expected, f"sum under speculation: {total} != {expected}"
print("SPECULATION_OK")
"""


def _run(script: str, *args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, f"subprocess failed:\n{proc.stdout}\n{proc.stderr}"
    return proc.stdout


@pytest.mark.slow
def test_task_retry_output_unchanged():
    with tempfile.TemporaryDirectory(prefix="gmrs_crash_") as d:
        assert "RETRY_OK" in _run(_RETRY_SCRIPT, d)


@pytest.mark.slow
def test_speculative_execution_output_unchanged():
    assert "SPECULATION_OK" in _run(_SPECULATION_SCRIPT)
