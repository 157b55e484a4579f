"""The Python worker daemon for local masters: its stat-checked zip import
cache (an unchanged archive is not re-read on ``importlib.invalidate_caches``,
a rewritten one is), the version gate, which masters get it, that Spark's
workers run it, and that they fork with the decode path imported and
frozen, from a daemon holding no thread beyond the documented one."""

import gc
import importlib
import os
import sys
import time
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from nasctn_sea_ingest_spark import _daemon, session
from nasctn_sea_ingest_spark.api import read_seamf_zipfile_as_sdf
from nasctn_sea_ingest_spark.sources.synth import build_sweep_series

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


# what the daemon imports before it forks, as a task sees it
_PRELOADED = ["nasctn_sea_ingest_spark.sources.ingest", "pyarrow.parquet",
              "pandas"]
# the daemon's threads at a fork besides its main one: pyarrow's jemalloc
# background thread (the _daemon docstring says why that fork is safe)
_FORK_THREADS = {"jemalloc_bg_thd"}


def _reporter():
    """A function of no arguments that returns (pid, the ``_PRELOADED``
    modules the worker holds, how many objects it inherited frozen, its
    daemon's other thread names), after holding the worker long enough
    for one task per slot to overlap, so each slot holds a worker of its
    own. It is made here so that it travels by value: a module-level
    function would make the worker import this test module, and with it
    the package."""
    wanted = list(_PRELOADED)

    def report():
        daemon = os.getppid()
        task = f"/proc/{daemon}/task"
        threads = []
        for tid in os.listdir(task):
            if int(tid) != daemon:
                with open(f"{task}/{tid}/comm") as f:
                    threads.append(f.read().strip())
        time.sleep(0.5)
        return (os.getpid(), [m for m in wanted if m in sys.modules],
                gc.get_freeze_count(), sorted(threads))
    return report


def _assert_warm(workers) -> None:
    for pid, modules, frozen, threads in workers:
        assert modules == _PRELOADED, pid
        assert frozen > 10_000, (pid, frozen)
        assert set(threads) <= _FORK_THREADS, (pid, threads)


def test_workers_fork_with_the_decode_path_imported(spark):
    # a plain RDD task: pyspark loads neither pandas nor pyarrow for it,
    # and the function imports nothing itself
    probe = _reporter()

    def report(_):
        yield probe()

    n = spark.sparkContext.defaultParallelism
    _assert_warm(spark.sparkContext.parallelize(range(n), n)
                 .mapPartitions(report).collect())


def _sql_workers(spark) -> list[tuple]:
    """``_reporter()`` from one Arrow task per slot. Spark forks SQL Python
    tasks from another daemon than plain RDD tasks (their environments
    differ), so only an Arrow task sees the workers the lazy dict used."""
    probe = _reporter()

    def report(batches):
        for _ in batches:
            pass
        pid, modules, frozen, threads = probe()
        yield pa.RecordBatch.from_pydict(
            {"pid": [pid], "modules": [modules], "frozen": [frozen],
             "threads": [threads]})

    n = spark.sparkContext.defaultParallelism
    return [tuple(r) for r in spark.range(n, numPartitions=n).mapInArrow(
        report, "pid long, modules array<string>, frozen long, "
                "threads array<string>").collect()]


def test_worker_after_an_early_stopped_read_forks_warm(spark, tmp_path):
    """A ``limit`` over the lazy dict stops its Python task early, so
    pyspark does not reuse that worker; the one forked to replace it has
    the decode path already."""
    build_sweep_series(str(tmp_path), 8)
    seen = {w[0] for w in _sql_workers(spark)}
    rows = read_seamf_zipfile_as_sdf(spark, str(tmp_path))["psd"] \
        .limit(10).collect()
    assert len(rows) == 10
    fresh = [w for w in _sql_workers(spark) if w[0] not in seen]
    assert fresh
    _assert_warm(fresh)
