"""``PosixLocalFileSystem`` sets the same permissions as Hadoop's stock
``LocalFileSystem``, without forking ``chmod``.

Files, directories and their ``.crc`` sidecars are created with explicit
permissions through the session's ``file:`` FileSystem and through a
stock ``org.apache.hadoop.fs.LocalFileSystem``, and their modes must
match.  A sticky bit, which java.nio cannot set, must still reach the
disk through the stock method."""

from __future__ import annotations

import os
import shutil
import stat
import types

import pytest

from golang_mapreduce_spark.session import POSIX_LOCAL_FS
from golang_mapreduce_spark.streaming import jobs


def _modes(root: str) -> dict[str, int]:
    """relative path -> permission bits (sticky included) under ``root``."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = stat.S_IMODE(os.lstat(p).st_mode)
    return out


@pytest.fixture(scope="module")
def filesystems(spark):
    """(session ``file:`` FileSystem, stock LocalFileSystem, jvm)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(uri, hconf)
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf), stock, jvm


def _populate(fs, jvm, root: str, dir_mode: str, file_mode: str) -> None:
    Path, Perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    base = Path("file://" + root)
    assert fs.mkdirs(Path(base, "d"), Perm(dir_mode))
    out = fs.create(Path(base, "d/f"), Perm(file_mode), False, 4096, 1, 1 << 20, None)
    out.write(bytearray(b"checkpoint"))
    out.close()


def test_session_fs_is_posix_local_fs(filesystems):
    session_fs, _, _ = filesystems
    assert session_fs.getClass().getName() == POSIX_LOCAL_FS


@pytest.mark.parametrize("dir_mode,file_mode", [("750", "640"), ("711", "604")])
def test_modes_match_stock_local_fs(filesystems, tmp_path, dir_mode, file_mode):
    session_fs, stock, jvm = filesystems
    for fs, name in ((session_fs, "session"), (stock, "stock")):
        os.mkdir(tmp_path / name)
        _populate(fs, jvm, str(tmp_path / name), dir_mode, file_mode)
    got, want = _modes(str(tmp_path / "session")), _modes(str(tmp_path / "stock"))
    assert got == want
    assert set(got) == {"d", "d/f", "d/.f.crc"}
    assert got["d"] == int(dir_mode, 8)
    assert got["d/f"] == got["d/.f.crc"] == int(file_mode, 8)


def test_sticky_directory_goes_through_the_stock_method(filesystems, tmp_path):
    """mkdirs drops a sticky bit with the umask, so it is set afterwards;
    only the stock method (a ``chmod``) can put it on the disk."""
    session_fs, stock, jvm = filesystems
    Path, Perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    for fs, name in ((session_fs, "session"), (stock, "stock")):
        sticky = Path("file://" + str(tmp_path / name))
        assert fs.mkdirs(sticky, Perm("750"))
        fs.setPermission(sticky, Perm("1750"))
    got = os.stat(tmp_path / "session").st_mode
    assert got == os.stat(tmp_path / "stock").st_mode
    assert stat.S_IMODE(got) == stat.S_ISVTX | 0o750


@pytest.mark.streaming
def test_drained_checkpoint_tree_matches_stock_local_fs(spark, sf_dir, monkeypatch):
    """The stream-stream join drain's checkpoint, read just before the
    drain deletes it, has the same files and modes whether the session's
    filesystem or a stock LocalFileSystem writes it.  A child session
    gets the stock one: session conf reaches Hadoop verbatim, and an
    uncached ``file:`` filesystem is built from it."""
    stock_session = spark.newSession()
    stock_session.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock_session.conf.set("fs.file.impl.disable.cache", "true")
    jvm = spark.sparkContext._jvm
    stock_fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        stock_session._jsparkSession.sessionState().newHadoopConf(),
    )
    assert stock_fs.getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"

    trees = []

    def snapshot_then_rmtree(path, ignore_errors=False):
        trees.append(_modes(path))
        shutil.rmtree(path, ignore_errors=ignore_errors)

    monkeypatch.setattr(
        jobs, "shutil", types.SimpleNamespace(rmtree=snapshot_then_rmtree)
    )
    for session in (spark, stock_session):
        jobs.streaming_click_attribution(session, sf_dir)
    got, want = trees
    assert got == want
    assert any(p.endswith(".delta") for p in got)
    assert set(got.values()) == {0o644, 0o755}
