"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration below is chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  adapt between sf0.001 tests and 100 TB production.
- Arrow enabled for every pandas interchange (decode UDFs are Arrow-batched).
- Shuffle partitions default to the core count locally; on a cluster this is
  expected to be overridden (or left to AQE's coalescing with a high initial
  value).
- On a ``local[...]`` master, Python workers fork from the package's daemon
  (``_daemon``): pyspark's own daemon, started after a fix that stops each
  task re-reading the zipped pyspark library's central directory (about
  0.2 s CPU per Python task before any work, on Python 3.10-3.12) and
  after importing the decode path (``sources.ingest``: numpy, pandas,
  pyarrow) and pyspark's Arrow serializers, then freezing them out of the
  garbage collector's reach. A freshly forked worker does not spend
  0.3-0.5 s CPU importing them on its first Arrow task, and pyspark's
  ``gc.collect()`` after each task no longer walks them (about 0.04 s CPU
  per task). The daemon's only other thread at a fork is pyarrow's jemalloc
  background thread, which jemalloc's own ``pthread_atfork`` handlers
  make safe (``_daemon`` has the details). Other masters keep pyspark's
  daemon: it starts before a task's ``--py-files`` are added, so the
  package may not be importable there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # files: pack many small sensor files per task, split big parquet
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # r16 NEGATIVE RESULT (guide §1.6): an earlier r16 session set
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
    # (let AQE coalesce the plan that materializes an in-query
    # .persist(); its A/B showed q184 9.09/9.50->8.65/8.40).  A wider
    # interleaved A/B THIS session (both orders, warm rounds) showed
    # the conf is a WASH on the queries it was added for (q163 9.21 vs
    # 9.06, q25/q135 unaffected — they hold no cache) and 50-60% WORSE
    # on the persist-heavy composed paths it was never probed against:
    # x_llm 11.87 vs 18.46 s, q184 10.03 vs 16.49 s — AQE-coalesced
    # cache builds serialize every downstream scan of a small-bytes
    # cached relation whose WORK is not small (compressed text).
    # Reverted to the Spark default (false).
    # FileScan metadata strings (DataFilters/PushedFilters/ReadSchema)
    # truncate at 100 chars by default, and the CUT POINT moves with
    # expression-id LENGTH (#123 vs #12345) — so the plan-digest drift
    # alarm (querylog.plan_digest) would fire on id-magnitude changes,
    # not plan-shape changes.  Round 9's full-corpus --context audit
    # (tools/digest_stability.py) found 14 queries latently exposed;
    # printing the metadata untruncated removes the whole class (ids
    # themselves are stripped by the digest normalizer).
    "spark.sql.maxMetadataStringLength": "65536",
}


def bench_driver_memory() -> str:
    """Driver heap for the single-JVM bench and tools:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else the smaller of 24g (the
    late-session GC headroom the bench was tuned with) and half of this
    host's MemTotal from ``/proc/meminfo`` — 24g where that is
    unreadable."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 << 10, kb // 2048)}m"


def get_spark(app_name: str = "nasctn-sea-ingest-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    b = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # local[N] runs executor tasks inside the driver JVM: Spark's 1g
    # default heap shared by N concurrent tasks spills/GCs long before the
    # machine is used (~15% on the shuffle-heavy dedup queries at 32
    # threads). Only effective on the FIRST session of the process; on a
    # real cluster executor memory comes from the deploy config instead.
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if master == "local" or master.startswith("local["):
        # workers fork from the package's daemon (see the module
        # docstring); the package root goes on their path so it starts
        # whatever the driver's working directory
        conf["spark.python.daemon.module"] = "nasctn_sea_ingest_spark._daemon"
        conf["spark.executorEnv.PYTHONPATH"] = _ROOT
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
