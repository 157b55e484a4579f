#!/usr/bin/env python
"""Standalone best-of-N noop-sink timing for named corpus queries.

    python tools/query_probe.py q163_dbscan q184_betweenness_tree [...]
    SPARK_GRAFT_PROBE_N=3 python tools/query_probe.py q115_pagerank

Fresh session, bench-identical conf (host-sized driver heap), one untimed
warm pass per query (row count), then best-of-N full-plan noop sink —
the bench.py per-query methodology isolated from the 450-stage session
tail, for adjudicating bench readings against host noise (SCALE.md §12/
§43 discipline).  Prints one JSON line {name: best_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    n_runs = int(os.environ.get("SPARK_GRAFT_PROBE_N", 2))
    from nasctn_sea_ingest_spark import get_spark
    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.session import bench_driver_memory

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(app_name="query_probe", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={
                          "spark.sql.legacy.parquet.nanosAsLong": "true",
                          "spark.driver.memory": bench_driver_memory()})
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    byname = {q.name: q for q in CORPUS}
    for n in names:
        q = byname[n]
        spark.sparkContext.setJobDescription(f"probe:{n}")
        rows = q.spark(spark, sf_dir).count()   # warm pass, untimed
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop") \
             .mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[n] = round(best, 3)
        print(f"# {n}: {best:.3f}s rows={rows}", file=sys.stderr)
        spark.catalog.clearCache()
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
