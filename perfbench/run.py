"""Benchmark of the sensor-day ingest and the warehouse and corpus queries.

    python3 perfbench/run.py --workload ingest_day --seed 1 --seconds 8 \\
        --trace 0

Run from the root of a checkout. The run generates (or reuses) the seed's
archive and corpus tables under ``.perfbench_work/inputs``, starts a
pinned ``local[3]`` Spark session, runs the workload's set-up and one
untimed warm-up, then closed-loop ops for ``--seconds`` seconds (and at
least the workload's minimum number of ops), checks the outputs, and
prints one JSON object as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans around the package's
public calls, writes them to ``.perfbench_work/records`` and reports the
per-layer metrics instead. Latencies are those of the host it runs on."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = 3   # task slots; one core stays free for the driver and JVM threads


def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(")") + 2:].split()[19])     # starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_day", "warehouse_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(run_dir: Path, tmp: Path):
    from nasctn_sea_ingest_spark import get_spark
    from perfbench import host
    # fixed GC and JIT thread counts (a fixed set of compiler threads, so
    # host.tree_cpu can leave their CPU out); the C1 compiler only: with C2
    # the compiler threads burned about a core through every timed window
    # and the ops' CPU moved with when compilation finished, while C1-only
    # runs set up faster and repeat closer; a heap that never shrinks
    # after the between-op System.gc(), so RSS is not a shrink-regrow cycle
    java = ("-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
            "-XX:CICompilerCount=2 -XX:-UseDynamicNumberOfCompilerThreads "
            "-XX:TieredStopAtLevel=1 "
            f"-XX:MaxHeapFreeRatio=100 -Djava.io.tmpdir={tmp}")
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={"spark.driver.memory": host.driver_memory(),
                    "spark.driver.extraJavaOptions": java,
                    "spark.local.dir": str(run_dir / "spark-local"),
                    "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
                    "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (Python workers outlive the JVM by a moment)."""
    from perfbench import host
    pids = [p for p in host.tree_pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.05)
            try:                                # reap our own children
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "nasctn_sea_ingest_spark" / "__init__.py").is_file():
        print(f"perfbench: no nasctn_sea_ingest_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, Spark's launcher too: no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in ("-XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS"))
        if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path, tmp: Path) -> int:
    import tempfile
    tempfile.tempdir = str(tmp)
    from perfbench import corpus, host, inputs, spans
    t0 = time.perf_counter()
    canary_start = host.cpu_canary()
    zip_path = inputs.archive(str(WORK / "inputs"), args.seed)
    corpus_dir = corpus.tables(str(WORK / "inputs"), args.seed)
    excluded = time.perf_counter() - t0     # canary + input generation

    from perfbench import layers, workloads
    phases = {"inputs_s": excluded}
    t0 = time.perf_counter()
    spark = start_spark(run_dir, tmp)
    phases["spark_start_s"] = time.perf_counter() - t0
    sampler = host.RssSampler()
    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    try:
        if args.trace:
            layers.install(tracer, spark)
        ctx = workloads.Context(spark, zip_path, corpus_dir, str(run_dir),
                                args.seed, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        phases.update(wl.setup())
        phases["warmup_s"] = time.perf_counter() - t0
        setup_s = since_process_start() - excluded

        # closed loop, one client: ops until --seconds have passed, and at
        # least the workload's minimum; every op of a workload is the same
        # work (one ingest, or one pass of the same query mix), so the
        # per-item metrics do not depend on how many ops fit
        attempted = failed = ops = 0
        sampler.reset()
        gc0 = host.jvm_gc_s(ctx.sc)
        jit0 = host.tree_cpu()["jit"]
        t_window = time.perf_counter()
        while (ops < wl.min_ops
               or time.perf_counter() - t_window < args.seconds):
            ops += 1
            try:
                attempted += wl.run_op()
            except Exception:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc()
                attempted += wl.op_size
                failed += 1
                ctx.hygiene()
        peak_rss = sampler.peak
        gc_s = host.jvm_gc_s(ctx.sc) - gc0
        jit_s = host.tree_cpu()["jit"] - jit0
        t0 = time.perf_counter()
        phases["window_s"] = t0 - t_window

        try:
            wl.verify()
        except Exception as e:  # noqa: BLE001 — a failed check is counted
            traceback.print_exc()
            ctx.check(False, f"verify raised {e!r}")
        e2e = wl.metrics()
        e2e.update(setup_s=setup_s, peak_rss_mb=peak_rss)
        phases["verify_s"] = time.perf_counter() - t0
        failed += len(ctx.failures)
        for what in ctx.failures:
            print(f"perfbench: check failed: {what}", file=sys.stderr)

        if args.trace:
            per_layer = layers.probe(ctx, CORES)
            per_layer.update({f"wall.{k}": e2e[k] for k in layers.WALL})
            per_layer.update({"jvm.gc_s": gc_s, "jvm.jit_cpu_s": jit_s,
                              "host.canary_start": canary_start})
    finally:
        tracer.unwrap_all()
        sampler.close()
        stop_spark(spark)
    canary_end = host.cpu_canary()

    import pyarrow.parquet as pq
    units = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        per_layer["host.canary_end"] = canary_end
        chosen, table = per_layer, units["per_layer"]
    else:
        chosen, table = e2e, units["end_to_end"]
    metrics = {m["name"]: {"value": float(chosen[m["name"]]),
                           "unit": m["unit"]} for m in table}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"cores": os.cpu_count(), "master": f"local[{CORES}]",
                 "note": "timings are those of the host that made this "
                         "record"},
        "sizes": {"files": inputs.N_FILES, "channels": inputs.N_CHANNELS,
                  "geometry": inputs.GEOMETRY,
                  "archive_bytes": os.path.getsize(zip_path),
                  "trace_rows": inputs.N_FILES * inputs.N_CHANNELS
                  * inputs.TRACES_PER_CHANNEL,
                  "corpus_rows": {t: pq.ParquetFile(os.path.join(
                      corpus_dir, f"{t}.parquet")).metadata.num_rows
                      for t in corpus.TABLES}},
        "phases": phases, "canary_start": canary_start, "canary_end": canary_end,
        "attempted": attempted, "failed": failed, "failures": ctx.failures,
        "ops": wl.detail(), "end_to_end": e2e, "per_layer": per_layer if args.trace else None,
    }
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (records / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        tracer.dump(str(records / f"{stem}-spans.json"))
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
