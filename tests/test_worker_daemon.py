"""The Python worker daemon for local masters: its stat-checked zip import
cache (an unchanged archive is not re-read on ``importlib.invalidate_caches``,
a rewritten one is), the version gate, which masters get it, and that Spark's
workers run it."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from nasctn_sea_ingest_spark import _daemon, session

_MODULES = ("zipfix_a", "zipfix_b", "zipfix_p", "zipfix_p.q")


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["zipfix_a.py", "zipfix_p/__init__.py",
                         "zipfix_p/q.py"])
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    original = zipimport.zipimporter.invalidate_caches
    try:
        sys.path.insert(0, archive)
        assert _daemon.install()
        importlib.import_module("zipfix_a")
        importlib.import_module("zipfix_p.q")   # a second importer
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read_directory(a))
        # the first invalidation after the importers' own reads stamps
        # the archive: one read for both importers
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, ["zipfix_a.py", "zipfix_b.py",
                             "zipfix_p/__init__.py", "zipfix_p/q.py"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zipfix_b").NAME == "zipfix_b.py"

        # an archive that cannot be stat'ed takes CPython's own path
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        zipimport.zipimporter.invalidate_caches = original
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in _MODULES:
            sys.modules.pop(name, None)


def test_install_leaves_python_313_alone():
    original = zipimport.zipimporter.invalidate_caches
    assert not _daemon.install((3, 13))
    assert not _daemon.install((3, 9))
    assert zipimport.zipimporter.invalidate_caches is original


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize("master,local", [
    ("local", True), ("local[3]", True), ("local[*]", True),
    ("local-cluster[2,1,1024]", False), ("yarn", False),
    ("spark://host:7077", False)])
def test_daemon_conf_on_local_masters_only(master, local, monkeypatch):
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_Builder()))
    conf = session.get_spark(master=master)
    added = {"spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"}
    assert set(conf) == (set(session._DEFAULTS) | {
        "master", "spark.sql.shuffle.partitions", "spark.driver.memory"}
        | (added if local else set()))
    if local:
        assert conf["spark.python.daemon.module"] == _daemon.__name__


def test_workers_run_the_package_daemon(spark):
    # the task runs pyspark and stdlib code only, so the replaced method
    # can have come from the daemon alone
    got = (spark.sparkContext.parallelize(range(6), 6)
           .map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)
           .collect())
    assert got == [_daemon.__name__] * 6
