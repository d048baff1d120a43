"""Benchmark runner for the query registry in ``__spark_entry__``.

One closed-loop client in one process runs one query at a time on a
``local[4]`` session: ``get_session()``, then ``queries()[name](spark,
sf_dir)``, then a noop sink, with ``spark.catalog.clearCache()`` outside
the timer.  Inputs are generated from one fixed data seed (see ``datagen``);
the cold pass runs the queries in their listed order, and ``--seed`` only
permutes the query order of every warm pass.

    python3 perfbench/run.py --workload tpch_relational --seed 1 --seconds 10 --trace 0

``--seconds`` is accepted for the command line, but a run always times the
same number of passes.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs with Spark's event log and a stream listener on,
alternating traced and untraced warm passes, and prints the per-layer
metrics.  The last stdout line is one JSON object; see README.md in this
directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Workload -> registry query names.  Why each workload exists: README.md.
#: An odd query count keeps the median sample inside one query's times.
WORKLOADS = {
    "tpch_relational": [
        "q1_pricing_summary", "q3_shipping_priority", "q6_revenue_forecast",
        "q9_product_profit", "q18_large_orders", "window_running_spend",
        "hotkey_salted_join_revenue",
    ],
    "corpus_text": [
        "mr_wc", "mr_indexer", "minhash_signatures", "dedup_minhash_pairs",
        "tfidf_top_terms",
    ],
    "stream_drains": [
        "streaming_cms_cells", "streaming_click_attribution", "streaming_tumbling_hourly",
    ],
}
CORES = 4
#: Warm passes every run times, whatever ``--seconds`` is.  Pass times still
#: fall for a minute or more after the cold pass (JIT), so a fixed pass
#: count keeps every run, and a faster program, at the same point of that
#: curve.  Odd counts balance traced and untraced passes (see ``_measure``).
PASSES = {"tpch_relational": 3, "corpus_text": 5, "stream_drains": 5}
#: End-to-end figures that ``BENCHMARK.json`` does not bound.  Every run
#: prints them, and a traced run also reports them as ``e2e.*`` per-layer
#: metrics.  Wall times spread too much on a shared host (see README.md).
UNBOUNDED = ("query_cpu_p50_s", "query_cpu_tail_s",
             "warmup_s", "pass_s", "query_p50_s", "query_tail_s")
#: Seed of the generated tables.  It is fixed so that run-to-run spread is
#: noise of the host and the program, not of the data.
DATA_SEED = 42


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb(mem_bytes: int) -> int:
    """A quarter of the host's memory, from 1 to 2 GB."""
    return max(1, min(2, mem_bytes // 4 // 2**30))


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return "NULL" if v is None else str(v)


def _canonical(cols, rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over the generated tables, compared like the repository's
    verify recipe: columns by name, rows sorted, floats to 9 digits."""

    def __init__(self, data_dir: str, tables: list[str], sql: dict[str, str]) -> None:
        import duckdb

        self._con = duckdb.connect()
        self._sql = sql
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )

    def matches(self, name: str, df) -> bool:
        got = _canonical(df.columns, df.collect())
        rel = self._con.execute(self._sql[name])
        want = _canonical([d[0] for d in rel.description], rel.fetchall())
        return got == want

    def close(self) -> None:
        self._con.close()


class Bench:
    """One benchmark run: set-up, a cold pass with the correctness gate,
    then a fixed number of warm passes."""

    def __init__(self, args, run_dir: str, data_dir: str, tables: list[str]) -> None:
        self.args = args
        self.names = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.tables = tables
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, object] = {}
        self.layers: dict[str, float] = {}
        self.detail: list[str] = []
        self._epoch = time.time() - time.perf_counter()

    def epoch(self, t: float) -> float:
        return self._epoch + t

    def conf(self, heap_gb: int) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{heap_gb}g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # The serial collector grows the heap by occupancy alone, not by
            # GC time as G1 does, so peak memory follows what the program
            # holds rather than how busy the host was.  No hsperfdata file
            # in /tmp.  JIT compiler threads never exit, so the CPU probe
            # can subtract their time (see probes.program_cpu_s).
            "spark.driver.extraJavaOptions": (
                "-XX:+UseSerialGC -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}"
            ),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
            })
        return conf

    def run(self) -> dict[str, float]:
        mem = host_memory_bytes()
        heap = driver_heap_gb(mem)
        if self.args.trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"))
        t0 = time.perf_counter()
        from golang_mapreduce_spark.session import get_session

        spark = get_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=self.conf(heap),
        )
        t1 = time.perf_counter()
        try:
            import __spark_entry__ as entry

            queries, oracles = entry.queries(), entry.oracle_sql()
            t2 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            self.info = {
                "nproc": os.cpu_count(), "host_memory_gb": round(mem / 2**30, 1),
                "driver_heap_gb": heap, "spark": spark.version,
                "python": platform.python_version(), "cores": CORES,
            }
            self.layers["session.boot_s"] = t1 - t0
            self.layers["registry.import_s"] = t2 - t1
            return {"setup_s": t2 - t0, **self._measure(spark, queries, oracles)}
        finally:
            _stop(spark)

    def _execute(self, spark, build):
        """Build one query and drain it into the noop sink; return the
        frame, the build start, build end and sink end times, and the CPU
        seconds the query cost."""
        cpu = _program_cpu_s()
        a = time.perf_counter()
        df = build(spark, self.data_dir)
        b = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        c = time.perf_counter()
        return df, a, b, c, _program_cpu_s() - cpu

    def _attempt(self, spark, name, build):
        self.attempted += 1
        try:
            return self._execute(spark, build)
        except Exception:
            self.failed += 1
            print(f"query {name} failed:", file=sys.stderr)
            traceback.print_exc()
            return None

    def _measure(self, spark, queries, oracles) -> dict[str, float]:
        from probes import Tracing

        tracing = Tracing(spark) if self.args.trace else None
        oracle = Oracle(self.data_dir, self.tables, oracles)
        warmup = warmup_cpu = 0.0
        try:
            # the first query of a run pays for first-touch work that later
            # ones share, so the cold pass keeps one order in every run
            for name in self.names:
                res = self._attempt(spark, name, queries[name])
                if res is not None:
                    df, a, _, c, cpu = res
                    warmup += c - a
                    warmup_cpu += cpu
                    if not _safe_match(oracle, name, df):
                        self.failed += 1
                spark.catalog.clearCache()
        finally:
            oracle.close()

        passes: list[dict] = []
        for i in range(PASSES[self.args.workload]):
            # untraced and traced passes alternate, starting untraced: pass
            # times still fall from pass to pass, and with the odd pass counts
            # of the workloads both sides of trace.overhead sit at the same
            # mean position on that curve
            traced = tracing is not None and i % 2 == 1
            if traced:
                tracing.enable()
            elif tracing is not None:
                tracing.disable()
            passes.append(self._pass(spark, queries, tracing if traced else None))

        cpu_pass, cpu_p50, cpu_tail, cpu_slowest = _summary(passes, "cpus")
        wall_pass, wall_p50, wall_tail, wall_slowest = _summary(passes, "walls")
        self.info["tail"] = f"{cpu_slowest} (cpu), {wall_slowest} (wall), median of {len(passes)} passes"
        self.info["warm_passes_s"] = [round(sum(p["walls"].values()), 3) for p in passes]
        self.info["warm_passes_cpu_s"] = [round(sum(p["cpus"].values()), 2) for p in passes]
        out = {
            "warmup_cpu_s": warmup_cpu,
            "pass_cpu_s": cpu_pass,
            "query_cpu_p50_s": cpu_p50,
            "query_cpu_tail_s": cpu_tail,
            "warmup_s": warmup,
            "pass_s": wall_pass,
            "query_p50_s": wall_p50,
            "query_tail_s": wall_tail,
        }
        if tracing is not None:
            tracing.enable()
            tracing.drain()
            self._layers(tracing, passes)
        return out

    def _pass(self, spark, queries, tracing) -> dict:
        walls: dict[str, float] = {}
        cpus: dict[str, float] = {}
        windows = []
        caching: dict[str, tuple[int, int, float]] = {}
        for name in self.rng.sample(self.names, len(self.names)):
            res = self._attempt(spark, name, queries[name])
            if res is not None:
                _, a, b, c, cpus[name] = res
                walls[name] = c - a
                windows.append((name, self.epoch(a), self.epoch(b), self.epoch(c)))
            rdds, cached = tracing.cache_probe() if tracing is not None else (0, 0)
            r0 = time.perf_counter()
            spark.catalog.clearCache()
            caching[name] = (rdds, cached, time.perf_counter() - r0)
        return {"walls": walls, "cpus": cpus, "windows": windows, "caching": caching,
                "traced": tracing is not None}

    def _layers(self, tracing, passes) -> None:
        from eventlog import EventLog, Window, combine

        log = EventLog.load(os.path.join(self.run_dir, "eventlog"))
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        per_query: dict[str, list[dict[str, float]]] = {}
        check_failures = 0
        for p in traced:
            windows = [Window(name, a, b, c) for name, a, b, c in p["windows"]]
            jobs = log.attribute(windows)
            for w in windows:
                name = w.key
                m = log.window_metrics(w, jobs[name])
                check_failures += m.pop("check.gap_ok") == 0.0
                m.pop("check.job_spans_s")
                m["operators.build_s"] = w.build_end - w.start
                m["operators.sink_s"] = w.end - w.build_end
                m.update(tracing.streams.window_metrics(w.start, w.end))
                rdds, cached, release = p["caching"][name]
                m.update({"caching.persisted_rdds": rdds, "caching.cached_bytes": cached,
                          "caching.release_s": release})
                per_query.setdefault(name, []).append(m)
        medians = {
            name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            for name, rows in per_query.items()
        }
        for name, m in sorted(medians.items()):
            self.detail.append(f"layer {name} " + json.dumps(m, sort_keys=True))
        traced_pass_s = statistics.median(sum(p["walls"].values()) for p in traced)
        plain_pass_s = statistics.median(sum(p["walls"].values()) for p in plain)
        self.layers.update(combine(medians))
        self.layers["trace.pass_s"] = traced_pass_s
        self.layers["trace.overhead"] = traced_pass_s / plain_pass_s
        self.layers["trace.check_failures"] = float(check_failures)


def _program_cpu_s() -> float:
    """CPU seconds the program has used so far: every process below this
    one (the driver JVM, less its JIT compiler, and its Python workers)
    plus this thread, which makes the PySpark calls.  The benchmark's other
    threads are left out."""
    from probes import program_cpu_s

    return program_cpu_s(os.getpid()) + time.thread_time()


def _summary(passes, key: str) -> tuple[float, float, float, str]:
    """Median pass total, median per-query sample, and the median of the
    query with the highest median, with that query's name, of ``passes``'
    per-query ``key`` figures."""
    samples = [v for p in passes for v in p[key].values()]
    of_query: dict[str, list[float]] = {}
    for p in passes:
        for name, v in p[key].items():
            of_query.setdefault(name, []).append(v)
    per_query = {name: statistics.median(vs) for name, vs in of_query.items()}
    slowest = max(per_query, key=per_query.get)
    return (statistics.median(sum(p[key].values()) for p in passes),
            statistics.median(samples), per_query[slowest], slowest)


def _safe_match(oracle: Oracle, name: str, df) -> bool:
    try:
        ok = oracle.matches(name, df)
    except Exception:
        traceback.print_exc()
        return False
    if not ok:
        print(f"query {name}: result differs from its oracle", file=sys.stderr)
    return ok


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _private_env(run_dir: str) -> None:
    """Keep every temporary file of this run under ``run_dir`` and let
    Python workers import the repository."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, REPO)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(REPO, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}")
    try:
        _private_env(run_dir)
        import datagen
        from probes import RssSampler

        data_dir = os.path.join(run_dir, "data")
        tables = datagen.generate(data_dir, DATA_SEED)
        bench = Bench(args, run_dir, data_dir, tables)
        with RssSampler() as rss:
            e2e = bench.run()
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))

    print("env " + json.dumps(bench.info, sort_keys=True))
    for line in bench.detail:
        print(line)
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {'MB' if name.endswith('_mb') else 's'}")
    print(f"failed_frac {bench.failed / max(bench.attempted, 1):.6g} fraction")
    if args.trace:
        bench.layers.update({f"e2e.{k}": e2e[k] for k in UNBOUNDED})
        wanted = spec["per_layer"]
        values = bench.layers
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
