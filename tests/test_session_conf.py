"""``get_session``'s conf merge and ``ensure_session_invariants``' writes,
checked without a JVM: the builder and the session conf are stand-ins
that record what they are given."""

from __future__ import annotations

import os

import pytest

from golang_mapreduce_spark import session
from golang_mapreduce_spark.session import (
    EXECUTOR_PYTHONPATH_KEY,
    FILE_FS_IMPL_KEY,
    JVM_JAR,
    PACKAGE_PARENT,
    POSIX_LOCAL_FS,
)


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.fixture
def built_conf(monkeypatch):
    """get_session(extra_conf=...) -> the conf it hands the builder."""

    def build(extra_conf=None):
        builder = _Builder()
        monkeypatch.setattr(
            session, "SparkSession", type("SparkSession", (), {"builder": builder})
        )
        session.get_session(master="local[1]", extra_conf=extra_conf)
        return builder.conf

    return build


def test_package_entries_lead_each_path(built_conf):
    conf = built_conf()
    assert conf[EXECUTOR_PYTHONPATH_KEY] == PACKAGE_PARENT
    assert conf["spark.driver.extraClassPath"] == JVM_JAR
    assert conf["spark.executor.extraClassPath"] == JVM_JAR
    assert conf[FILE_FS_IMPL_KEY] == POSIX_LOCAL_FS


def test_callers_paths_are_kept_after_the_package_entries(built_conf):
    caller = {
        EXECUTOR_PYTHONPATH_KEY: "/caller/py/a" + os.pathsep + "/caller/py/b",
        "spark.driver.extraClassPath": "/caller/jars/driver.jar",
        "spark.executor.extraClassPath": "/caller/jars/executor.jar",
    }
    conf = built_conf(caller)
    assert conf[EXECUTOR_PYTHONPATH_KEY] == os.pathsep.join(
        [PACKAGE_PARENT, "/caller/py/a", "/caller/py/b"]
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        [JVM_JAR, "/caller/jars/driver.jar"]
    )
    assert conf["spark.executor.extraClassPath"] == os.pathsep.join(
        [JVM_JAR, "/caller/jars/executor.jar"]
    )


def test_callers_file_fs_impl_wins(built_conf):
    stock = "org.apache.hadoop.fs.LocalFileSystem"
    assert built_conf({FILE_FS_IMPL_KEY: stock})[FILE_FS_IMPL_KEY] == stock


def test_committed_jar_is_built_from_committed_source():
    from golang_mapreduce_spark.tools import build_jvm

    assert build_jvm.manifest_digest() == build_jvm.source_digest(), (
        "rebuild the jar: python -m golang_mapreduce_spark.tools.build_jvm"
    )


class _Conf:
    def __init__(self):
        self.values: dict[str, str] = {}
        self.writes: list[str] = []

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.writes.append(key)
        self.values[key] = value


def test_invariants_never_write_file_fs_impl():
    """A session the engine did not build cannot load PosixLocalFileSystem,
    so the guarded pins must leave ``fs.file.impl`` alone."""
    spark = type("Spark", (), {"conf": _Conf()})()
    session.ensure_session_invariants(spark, events=True, checkpoints=True)
    assert spark.conf.writes
    assert not any(k.endswith("fs.file.impl") for k in spark.conf.writes)
