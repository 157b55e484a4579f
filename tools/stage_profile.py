#!/usr/bin/env python
"""Per-stage empirical profile of named corpus queries (guide §1.1).

    python tools/stage_profile.py q163_dbscan [q115_pagerank ...]

Runs each query once (untimed warm pass) and once through the noop
sink with the Spark UI enabled, then dumps every job/stage of the
timed run via the UI REST API: stage name, duration, task count,
input/shuffle-read/shuffle-write bytes.  This is the "which stage is
slow" loop from the optimization guide run headlessly — the numbers
identify WHERE a multi-stage operator spends its wall clock, which
best-of-N totals (tools/query_probe.py) cannot."""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    from nasctn_sea_ingest_spark import get_spark
    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.session import bench_driver_memory

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(app_name="stage_profile", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={
                          "spark.sql.legacy.parquet.nanosAsLong": "true",
                          "spark.ui.enabled": "true",
                          "spark.ui.port": "4050",
                          "spark.driver.memory": bench_driver_memory()})
    spark.sparkContext.setLogLevel("ERROR")
    base = "http://localhost:4050/api/v1"
    app_id = spark.sparkContext.applicationId
    byname = {q.name: q for q in CORPUS}
    for n in names:
        q = byname[n]
        q.spark(spark, sf_dir).count()          # warm, untimed
        jobs0 = {j["jobId"] for j in _get(f"{base}/applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{n}")
        t0 = time.perf_counter()
        q.spark(spark, sf_dir).write.format("noop") \
         .mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        jobs = [j for j in _get(f"{base}/applications/{app_id}/jobs")
                if j["jobId"] not in jobs0]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        print(f"\n== {n}: wall {wall:.3f}s, {len(jobs)} jobs, "
              f"{len(stage_ids)} stages ==")
        from datetime import datetime

        def _ts(s):
            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")

        print("-- jobs by wall (submission->completion) --")
        jw = []
        for j in jobs:
            try:
                w = (_ts(j["completionTime"])
                     - _ts(j["submissionTime"])).total_seconds()
            except Exception:  # noqa: BLE001
                w = -1
            jw.append((w, j["jobId"], j.get("name", "")[:80]))
        for w, jid, jname in sorted(jw, reverse=True)[:15]:
            print(f"  job {jid:>4} {w:7.3f}s  {jname}")
        rows = []
        for sid in stage_ids:
            try:
                for att in _get(f"{base}/applications/{app_id}/stages/{sid}"):
                    if att["status"] == "SKIPPED":
                        rows.append((sid, 0.0, 0, 0, 0, 0, "(skipped) "
                                     + att.get("name", "")))
                        continue
                    dur = (att.get("executorRunTime", 0)) / 1000.0
                    rows.append((sid, dur, att.get("numCompleteTasks", 0),
                                 att.get("inputBytes", 0),
                                 att.get("shuffleReadBytes", 0),
                                 att.get("shuffleWriteBytes", 0),
                                 att.get("name", "")[:90]))
            except Exception as e:  # noqa: BLE001
                rows.append((sid, -1, 0, 0, 0, 0, f"err {e}"))
        rows.sort(key=lambda r: -r[1])
        print(f"{'sid':>5} {'exec_s':>8} {'tasks':>6} {'input':>10} "
              f"{'sh_rd':>10} {'sh_wr':>10}  name")
        for sid, dur, nt, ib, sr, sw, name in rows:
            print(f"{sid:>5} {dur:8.2f} {nt:>6} {ib:>10} {sr:>10} "
                  f"{sw:>10}  {name}")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
