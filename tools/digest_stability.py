#!/usr/bin/env python
"""Two-run plan-digest stability harness (round-6 verdict item: the
driver's r5 bench reported plans_changed=4 on an UNCHANGED tree, so the
drift alarm built to localize regressions cried wolf).

Usage:
    python tools/digest_stability.py /tmp/digests_a.json
    python tools/digest_stability.py /tmp/digests_b.json
    python tools/digest_stability.py --diff /tmp/digests_a.json /tmp/digests_b.json
    python tools/digest_stability.py --context

The session is ``get_spark``'s default: ``SPARK_GRAFT_CPUS`` cores (else
every core) and as many shuffle partitions.  Digests strip the core
count, so the output does not depend on it.

Each run mimics bench.py exactly (build DataFrame, count() it, digest
the executed-plan string) but ALSO stores the normalized plan text, so
--diff prints a unified diff of the first differing query — the evidence
for what to normalize away.

--context (round-9 verdict item) hunts CONTEXT-sensitive digests inside
one session: it digests every corpus query twice — pass 1 in registry
order (the full-bench context), pass 2 immediately after (same JVM, but
with a whole bench worth of extra expression ids allocated).  Run-vs-run
diffs (the two-file mode above) cannot see this class: the r8 q159 flake
was Catalyst's RewriteDistinctAggregates ordering Expand gid groups by
session expression-id state, so the SAME tree digested differently in a
fresh session vs mid-bench while every fresh-session re-run agreed.
Exits 1 and prints the plan diff if any query's two passes disagree.
"""

from __future__ import annotations

import difflib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(out_path: str) -> None:
    from nasctn_sea_ingest_spark import get_spark
    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.querylog import (capture_stage_digests,
                                                  normalized_plan,
                                                  plan_digest)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="digest_stability", extra_conf={
        "spark.sql.legacy.parquet.nanosAsLong": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for q in sorted(CORPUS, key=lambda q: int(q.name[1:].split("_")[0])):
        with capture_stage_digests() as stages:
            df = q.spark(spark, sf_dir)
            df.count()
        try:
            out[q.name] = {"digest": plan_digest(df),
                           "text": normalized_plan(df),
                           "stages": {s: {"digest": d, "text": t}
                                      for s, (d, t) in stages.items()}}
        except Exception as e:  # noqa: BLE001
            out[q.name] = {"digest": "", "text": f"ERROR {e}",
                           "stages": {}}
        spark.catalog.clearCache()
    with open(out_path, "w") as fh:
        json.dump(out, fh)
    print(f"wrote {len(out)} digests to {out_path}")
    spark.stop()


def context() -> int:
    from nasctn_sea_ingest_spark import get_spark
    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.querylog import (capture_stage_digests,
                                                  normalized_plan,
                                                  plan_digest)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="digest_context", extra_conf={
        "spark.sql.legacy.parquet.nanosAsLong": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    order = sorted(CORPUS, key=lambda q: int(q.name[1:].split("_")[0]))
    passes: list[dict] = []
    for _ in range(2):
        out = {}
        for q in order:
            try:
                with capture_stage_digests() as stages:
                    df = q.spark(spark, sf_dir)
                    df.count()
                out[q.name] = {"digest": plan_digest(df),
                               "text": normalized_plan(df),
                               "stages": {s: {"digest": d, "text": t}
                                          for s, (d, t)
                                          in stages.items()}}
            except Exception as e:  # noqa: BLE001
                out[q.name] = {"digest": "", "text": f"ERROR {e}",
                               "stages": {}}
            spark.catalog.clearCache()
        passes.append(out)
    spark.stop()
    a, b = passes
    changed = sorted(
        n for n in a
        if a[n]["digest"] != b[n]["digest"]
        or {s: v["digest"] for s, v in a[n].get("stages", {}).items()}
        != {s: v["digest"] for s, v in b[n].get("stages", {}).items()})
    print(f"{len(changed)} context-sensitive digests: "
          f"{', '.join(changed) or '-'}")
    for n in changed:
        print(f"\n=== {n} ===")
        for line in difflib.unified_diff(
                _full_text(a[n]).splitlines(),
                _full_text(b[n]).splitlines(),
                lineterm="", n=1):
            print(line)
    return 1 if changed else 0


def _full_text(entry: dict) -> str:
    """End-to-end plan text plus every stage's pre-checkpoint plan —
    the diff evidence for checkpoint-terminated queries whose
    end-to-end text is just `Scan ExistingRDD`."""
    parts = [entry["text"]]
    for s, v in sorted(entry.get("stages", {}).items()):
        parts.append(f"--- stage {s} ---")
        parts.append(v["text"])
    return "\n".join(parts)


def diff(a_path: str, b_path: str) -> int:
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    changed = sorted(
        n for n in a if n in b
        and (a[n]["digest"] != b[n]["digest"]
             or {s: v["digest"]
                 for s, v in a[n].get("stages", {}).items()}
             != {s: v["digest"]
                 for s, v in b[n].get("stages", {}).items()}))
    print(f"{len(changed)} digests differ: {', '.join(changed) or '-'}")
    for n in changed:
        print(f"\n=== {n} ===")
        for line in difflib.unified_diff(
                _full_text(a[n]).splitlines(),
                _full_text(b[n]).splitlines(),
                lineterm="", n=1):
            print(line)
    return 1 if changed else 0


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    if sys.argv[1] == "--context":
        sys.exit(context())
    run(sys.argv[1])
