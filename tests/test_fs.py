"""First-commit-wins creates of the filesystem adapters (plans/fs.py):
the `_owner` stamp of the streaming state dirs relies on exactly one
concurrent creator winning and every loser keeping the winner's
content."""

import errno
import json
import os
import subprocess
import sys

import pytest

from csvweb_spark.plans.fs import HadoopFS, LocalFS, fs_for
from csvweb_spark.streaming.pipeline import _claim_owner

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _no_links(src, dst):
    raise OSError(errno.EPERM, "hard links not supported", dst)


def test_local_write_text_exclusive_without_hard_links(tmp_path,
                                                       monkeypatch):
    """Where the mount refuses hard links, the create falls back to
    O_CREAT|O_EXCL: the first writer creates the marker, a second one
    keeps the first one's content, and no temp file is left."""
    monkeypatch.setattr(os, "link", _no_links)
    fs = LocalFS()
    marker = str(tmp_path / "_owner")
    fs.write_text_exclusive(marker, json.dumps({"checkpoint": "a"}),
                            str(tmp_path / "._tmp_owner_1"))
    fs.write_text_exclusive(marker, json.dumps({"checkpoint": "b"}),
                            str(tmp_path / "._tmp_owner_2"))
    assert fs.read_json(marker) == {"checkpoint": "a"}
    assert os.listdir(tmp_path) == ["_owner"]


def test_local_exclusive_fallback_failed_write_removes_marker(tmp_path,
                                                              monkeypatch):
    """A write that fails after the exclusive create takes the marker
    away again, so the next claim starts clean."""
    def full_disk(fd, *args, **kwargs):
        os.close(fd)
        raise OSError(errno.ENOSPC, "no space left on device")

    monkeypatch.setattr(os, "link", _no_links)
    monkeypatch.setattr(os, "fdopen", full_disk)
    with pytest.raises(OSError):
        _claim_owner(LocalFS(), str(tmp_path), "ckpt")
    assert os.listdir(tmp_path) == []
    monkeypatch.undo()
    _claim_owner(LocalFS(), str(tmp_path), "ckpt")
    assert LocalFS().read_json(str(tmp_path / "_owner")) == {
        "checkpoint": "ckpt"}


def test_claim_owner_after_kill_between_create_and_write(tmp_path):
    """A claim killed between the exclusive create and the write leaves
    an empty marker. The restart fails with an error that names it, and
    claims normally once the marker is deleted."""
    root = str(tmp_path / "state")
    killed = subprocess.run(
        [sys.executable, "-c",
         "import errno, os, sys\n"
         "from csvweb_spark.plans.fs import LocalFS\n"
         "from csvweb_spark.streaming.pipeline import _claim_owner\n"
         "def no_links(src, dst):\n"
         "    raise OSError(errno.EPERM, 'hard links not supported')\n"
         "os.link = no_links\n"
         "os.fdopen = lambda fd, *a, **k: os._exit(9)\n"
         "_claim_owner(LocalFS(), sys.argv[1], 'ckpt')\n",
         root],
        cwd=_REPO, capture_output=True, text=True, timeout=300)
    assert killed.returncode == 9, killed.stderr
    marker = os.path.join(root, "_owner")
    assert os.path.getsize(marker) == 0

    with pytest.raises(RuntimeError, match="_owner.*empty or partial"):
        _claim_owner(LocalFS(), root, "ckpt")
    os.remove(marker)
    _claim_owner(LocalFS(), root, "ckpt")
    assert LocalFS().read_json(marker) == {"checkpoint": "ckpt"}


class _RenameAs:
    """A Hadoop FileSystem whose rename onto an existing file behaves
    as `replace` says: True replaces it, as plain Hadoop's
    RawLocalFileSystem does; False refuses it, as HDFS does. Spark's
    bundled Hive installs ProxyLocalFileSystem for file://, which
    refuses, so each test fixes the semantics it relies on."""

    def __init__(self, jfs, replace: bool):
        self._jfs = jfs
        self._replace = replace

    def rename(self, src, dst):
        if self._replace:
            return self._jfs.getRawFileSystem().rename(src, dst)
        return not self._jfs.exists(dst) and self._jfs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._jfs, name)


def _misses_once(real_exists, missed):
    def exists(p):
        if not missed:
            missed.append(p)
            return False
        return real_exists(p)
    return exists


def _hadoop_root(spark, tmp_path):
    root = "file://" + str(tmp_path)
    fs = fs_for(root, spark)
    assert isinstance(fs, HadoopFS)
    return fs, root


def test_hadoop_write_text_exclusive_file_scheme_first_wins(spark, tmp_path,
                                                           monkeypatch):
    """On file:// the second writer keeps the first writer's content
    even where the FS's rename replaces files and an existence probe
    misses the winner, and no temp file is left."""
    fs, root = _hadoop_root(spark, tmp_path)
    monkeypatch.setattr(fs, "_fs", _RenameAs(fs._fs, replace=True))
    marker = fs.join(root, "_owner")
    fs.write_text_exclusive(marker, json.dumps({"checkpoint": "a"}),
                            fs.join(root, "._tmp_owner_1"))
    monkeypatch.setattr(fs, "exists", _misses_once(fs.exists, []))
    fs.write_text_exclusive(marker, json.dumps({"checkpoint": "b"}),
                            fs.join(root, "._tmp_owner_2"))
    assert fs.read_json(marker) == {"checkpoint": "a"}
    assert not [f for f in os.listdir(tmp_path) if "_tmp_owner" in f]


def test_hadoop_write_text_atomic_lost_rename_drops_tmp(spark, tmp_path,
                                                        monkeypatch):
    """With HDFS rename semantics, a writer whose exists probe misses
    the committed target loses the rename: the target keeps the first
    writer's content and the loser's temp file is deleted."""
    fs, root = _hadoop_root(spark, tmp_path)
    monkeypatch.setattr(fs, "_fs", _RenameAs(fs._fs, replace=False))
    target = fs.join(root, "run.json")
    fs.write_text_atomic(target, json.dumps({"run": "a"}),
                         fs.join(root, "._tmp_1"))
    missed = []
    monkeypatch.setattr(fs, "exists", _misses_once(fs.exists, missed))
    fs.write_text_atomic(target, json.dumps({"run": "b"}),
                         fs.join(root, "._tmp_2"))
    assert missed == [target]
    assert fs.read_json(target) == {"run": "a"}
    assert not [f for f in os.listdir(tmp_path) if "_tmp_" in f]


def test_hadoop_write_text_atomic_failed_rename_raises(spark, tmp_path,
                                                       monkeypatch):
    """A rename that fails with no target in place raises instead of
    reporting a commit that did not happen, and drops the temp file."""
    fs, root = _hadoop_root(spark, tmp_path)

    class _RefusesAll(_RenameAs):
        def rename(self, src, dst):
            return False

    monkeypatch.setattr(fs, "_fs", _RefusesAll(fs._fs, replace=False))
    with pytest.raises(IOError, match="run.json"):
        fs.write_text_atomic(fs.join(root, "run.json"), "{}",
                             fs.join(root, "._tmp_1"))
    assert not [f for f in os.listdir(tmp_path) if "_tmp_" in f]
