"""SparkSession factory with scale-oriented defaults.

The reference hard-codes its execution envelope (NReduce=10,
6.5840/src/main/mrcoordinator.go:23; one whole file per map task,
6.5840/src/mr/coordinator.go:337-339).  Here partitioning is dynamic:
AQE re-plans shuffle partition counts / skew splits at runtime, parquet
scans split on maxPartitionBytes, and all sizing knobs are config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Directory that holds the ``golang_mapreduce_spark`` package.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXECUTOR_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"

CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: Defaults chosen for local[N] testing but expressed as ratios/absolutes
#: that transfer to a multi-executor cluster: AQE owns runtime partition
#: counts, so shuffle.partitions is only an upper seed; 128 MB scan splits
#: match HDFS/S3 block sizing at any scale.
DEFAULT_CONF = {
    # Adaptive execution: runtime coalescing, skew-join splitting, and
    # dynamic join-strategy switching — the scale levers the reference
    # lacks entirely (static 10-bucket reduce, no skew handling).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic session semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # Older fixture generations shipped events.parquet as INT64
    # TIMESTAMP(NANOS), which Spark's reader rejects without this conf;
    # harmless for the current TIMESTAMP(MICROS) layout (see
    # sources/fixtures.normalize_events_ts, which handles both).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every pandas UDF / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scan-side: pushdown + pruning must reach the parquet reader.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Speculative re-execution of stragglers — the Spark-native form of
    # the reference's 10 s straggler timer (coordinator.go:194-231).
    "spark.speculation": "false",  # off in local mode; enable on clusters
    # Long-session driver-heap hygiene: the SQL status store retains up
    # to 1000 executed plans by default (even with the UI off), and this
    # engine's recursive compositions have large plans — a 150-query
    # sweep in one session accumulated enough retained metadata to OOM a
    # default-sized driver heap at a localCheckpoint.  Cap the stores;
    # a query service at 100 TB runs with the same caps for the same
    # reason (the knobs are per-driver, not per-data).
    "spark.sql.ui.retainedExecutions": "16",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "1000",
    # Stream checkpoints (offset/commit logs, state-store deltas) commit
    # by write-temp-then-rename, as the reference commits its map and
    # reduce outputs (worker.go:156,223).  Spark's default manager goes
    # through Hadoop's FileContext, whose rename on a local ``file:``
    # path without libhadoop forks a ``readlink`` per getFileLinkStatus:
    # 114-160 per warm pass of perfbench's three stream_drains queries on
    # local[4] (4-vCPU VM), and none with the FileSystem-API manager,
    # which cut that pass's CPU time by a third.  Hadoop still forks a
    # ``chmod`` per file it creates (about 80 per such pass).  The
    # FileSystem-API manager renames with POSIX rename(2), which is
    # atomic on a local disk, and keeps Hadoop's .crc files and Spark's
    # checkpoint checksums.  Sessions the engine did not build get the
    # same value from ensure_session_invariants(checkpoints=True).
    CHECKPOINT_FILE_MANAGER_KEY: FS_CHECKPOINT_FILE_MANAGER,
}


def ensure_session_invariants(
    spark: SparkSession, events: bool = False, checkpoints: bool = False
) -> None:
    """Pin the session settings every oracle-checked read depends on,
    on sessions the engine did not build (the external driver constructs
    its own SparkSession with unknown timezone and no nanos conf; a
    hostile-TZ run is part of the robustness suite).  ``checkpoints``
    also pins the stream checkpoint file manager (see DEFAULT_CONF);
    stream drains pass it before they start.  Guarded set — only
    written when the value actually differs, and never restored — so
    repeated calls on a get_session() session never churn conf.
    This is the single conf-mutation point outside the builder."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if events and (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if checkpoints and (
        spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None)
        != FS_CHECKPOINT_FILE_MANAGER
    ):
        spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, FS_CHECKPOINT_FILE_MANAGER)


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = False,
) -> dict[str, str]:
    """Object-store (s3a://) config surface — the rebuild's analog of the
    reference's only connector (S3 whole-object reads,
    6.5840/src/mr/worker.go:326-359; bucket listing coordinator.go:383-397).

    Returns Hadoop-S3A settings to pass as ``get_session(extra_conf=...)``:
    cloud-safe committers (directory-rename commit is neither atomic nor
    O(1) on object stores — the magic committer commits via multipart
    upload completion, no rename), bounded connection pool, and an
    optional custom endpoint (MinIO/localstack) with path-style access.
    Credentials default to the standard provider chain (env vars,
    instance profile); explicit keys override for endpoint-style stores.

    The parquet/text readers and writers in sources/ are path-scheme
    agnostic: pass ``s3a://bucket/prefix`` anywhere a local path works.
    """
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        # cloud-first committer: no directory renames on the object store
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        # throughput knobs sized for many-executor scans
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.threads.max": "64",
        "spark.hadoop.fs.s3a.fast.upload": "true",
        # read path: random IO for parquet footer + column-chunk seeks
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if path_style_access:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        )
    return conf


def rocksdb_state_conf(
    bounded_memory_mb: int | None = None,
    changelog_checkpointing: bool = True,
) -> dict[str, str]:
    """Large-state streaming config surface: RocksDB state store.

    The default HDFS-backed state store keeps every key in executor heap
    — fine for the fixture's O(100k) sessions, fatal for a 100 TB
    pipeline tracking hundreds of millions of open sessions.  RocksDB
    spills state to local SSD with bounded block-cache memory, and
    changelog checkpointing uploads per-batch deltas instead of full
    snapshots (the snapshot upload otherwise dominates commit latency as
    state grows).  Pass to ``get_session(extra_conf=...)`` before the
    first stream starts — the provider is fixed per checkpoint location.
    """
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            str(changelog_checkpointing).lower(),
        # compaction on commit keeps read amplification bounded for
        # long-running sessionization state
        "spark.sql.streaming.stateStore.rocksdb.compactOnCommit": "true",
    }
    if bounded_memory_mb is not None:
        conf["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = "true"
        conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] = str(
            bounded_memory_mb
        )
    return conf


def get_session(
    app_name: str = "golang-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured externally; on a real cluster leave it to
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else (cpus or 32)
    )
    if extra_conf:
        conf.update(extra_conf)
    # Python workers import this package to run its UDFs; put it first on
    # their path so they find it from any launch directory, keeping any
    # path the caller gives.
    conf[EXECUTOR_PYTHONPATH_KEY] = os.pathsep.join(
        p for p in (PACKAGE_PARENT, conf.get(EXECUTOR_PYTHONPATH_KEY)) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
