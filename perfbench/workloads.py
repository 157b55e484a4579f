"""The two workloads and their correctness checks.

``ingest_day``: one op is one ``ingest()`` of the seed's archive into a
fresh warehouse plus one cold ``read_seamf_zipfile_as_sdf(zip)["psd"]
.limit(10).collect()``.

``warehouse_queries``: one op is one query of a seeded mix, sent to the
noop sink: queries over the warehouse that ``ingest()`` writes during
set-up, and the corpus queries of ``perfbench.corpus`` over the seed's
corpus tables. A pass runs every query once, the selective warehouse
queries under seeded parameters, in seeded order; every pass runs the
same mix, and the timed window runs whole passes.

Between ops, outside the timed spans, the cache is cleared and both the
Python and the JVM garbage collectors run."""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from nasctn_sea_ingest_spark import api, functions
from nasctn_sea_ingest_spark import operators as ops
from nasctn_sea_ingest_spark.sources import ingest as ingest_mod
from nasctn_sea_ingest_spark.sources import sigmf

from . import corpus, host, inputs

TABLES = ("traces", "channel_metadata", "sweep_metadata")
SELECTIVE = ("pvt_range_1m", "trace_xsec", "meta_rollup", "apd_series",
             "first_rows")
SCANS = ("capture_summary", "stitch_psd", "frame_sync")   # whole-table reads
QUERIES = SELECTIVE + SCANS                               # warehouse queries
WARMUP_FILES = 24           # the ingest_day warm-up op reads this prefix


class Context:
    def __init__(self, spark, zip_path: str, corpus_dir: str, run_dir: str,
                 seed: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.zip = zip_path
        self.corpus_dir = corpus_dir
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.n_files = inputs.N_FILES
        self.failures: list[str] = []
        # (query, job group, latency, process-tree CPU by kind, build time)
        self.query_log: list[tuple[str, str, float, dict, float]] = []
        self.day = inputs.day_start(seed)[:10]
        self._groups = 0

    def group(self, tag: str) -> str:
        self._groups += 1
        g = f"{tag}-{self._groups}"
        self.sc.setJobGroup(g, tag)
        return g

    def hygiene(self, jvm_gc: bool = True) -> None:
        self.spark.catalog.clearCache()
        gc.collect()
        if jvm_gc:
            self.sc._jvm.System.gc()

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def warehouse(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


def parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def stored_ratio(ctx: Context, wh: str) -> float:
    return sum(map(os.path.getsize, parquet_files(wh))) \
        / os.path.getsize(ctx.zip)


# --------------------------------------------------------------------------
# ingest_day
# --------------------------------------------------------------------------

def first_rows(ctx: Context, allow: int | None = None) -> list:
    with ctx.tracer.span("op.first_rows"):
        return api.read_seamf_zipfile_as_sdf(
            ctx.spark, ctx.zip, allow=allow)["psd"].limit(10).collect()


def check_counts(ctx: Context, wh: str, n_files: int) -> None:
    """Row counts of the warehouse tables, from the parquet footers."""
    per_ch = n_files * inputs.N_CHANNELS
    want = {"traces": per_ch * inputs.TRACES_PER_CHANNEL,
            "channel_metadata": per_ch, "sweep_metadata": n_files,
            "quarantine": 0}
    for table, n in want.items():
        got = sum(pq.ParquetFile(f).metadata.num_rows
                  for f in parquet_files(os.path.join(wh, table)))
        ctx.check(got == n, f"{table}: {got} rows, want {n}")


def ingest_op(ctx: Context, k: int, allow: int | None = None) -> dict:
    """One ingest_day op over the archive's first ``allow`` files (all by
    default); timings exclude the hygiene and checks."""
    wh = ctx.warehouse(f"wh{k}")
    cpu0 = host.tree_cpu()
    t0 = time.perf_counter()
    with ctx.tracer.span("op.ingest"):
        ingest_mod.ingest(ctx.spark, ctx.zip, wh, allow=allow)
    t1 = time.perf_counter()
    cpu1 = host.tree_cpu()
    ctx.hygiene()
    t2 = time.perf_counter()
    rows = first_rows(ctx, allow)
    t3 = time.perf_counter()
    ctx.hygiene()
    ctx.check(len(rows) == 10 and all(len(r.values) == inputs.GEOMETRY[0]
                                       for r in rows), "first rows")
    return {"wh": wh, "ingest_s": t1 - t0, "head_s": t3 - t2,
            "cpu": {k_: cpu1[k_] - cpu0[k_] for k_ in cpu0}}


def check_sampled_files(ctx: Context, wh: str) -> None:
    """Sampled files decoded single-process match their warehouse rows."""
    files = inputs.members(ctx.zip)
    picks = random.Random(ctx.seed).sample(range(len(files)), 3)
    traces = ctx.spark.read.parquet(os.path.join(wh, "traces"))
    for i in picks:
        name, raw = files[i]
        src = f"{ctx.zip}::{name}"
        recs = sigmf.decode_sigmf_trace_records(raw, source=src)
        want = {(r[1], r[4], r[5], r[6], r[3],
                 int(r[2].astype("datetime64[us]").astype(np.int64))):
                np.asarray(r[7], np.float32) for r in recs}
        rows = (traces.where(F.col("source_file") == src)
                .select("table", "capture_statistic", "detector", "kind",
                        "frequency", F.unix_micros("datetime").alias("us"),
                        "values").collect())
        got = {(r.table, r.capture_statistic, r.detector, r.kind,
                r.frequency, r.us): np.asarray(r["values"], np.float32)
               for r in rows}
        ok = (len(rows) == len(recs) and got.keys() == want.keys()
              and all(np.array_equal(got[k], want[k]) for k in want))
        ctx.check(ok, f"warehouse rows of {name} differ from its decode")


class IngestDay:
    name = "ingest_day"
    op_size = 1
    min_ops = 3     # the median shrugs off one op with a JVM CPU spike

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.last_wh: str | None = None

    def setup(self) -> dict:
        # a full-size warm-up op leaves the first timed op as much slower
        # than the second as this prefix does, at 1.4 times the cost
        shutil.rmtree(ingest_op(self.ctx, 0, allow=WARMUP_FILES)["wh"])
        return {}

    def run_op(self) -> int:
        if self.last_wh:
            shutil.rmtree(self.last_wh)
        op = ingest_op(self.ctx, len(self.ops) + 1)
        self.ops.append(op)
        self.last_wh = op["wh"]
        check_counts(self.ctx, op["wh"], self.ctx.n_files)
        return 1

    def verify(self) -> None:
        check_sampled_files(self.ctx, self.last_wh)

    def metrics(self) -> dict:
        med = statistics.median
        n = self.ctx.n_files
        return {"throughput": med(n / o["ingest_s"] for o in self.ops),
                "cpu_s_per_item": med(o["cpu"]["total"] / n for o in self.ops),
                "latency_p50_s": med(o["ingest_s"] for o in self.ops),
                "first_rows_s": med(o["head_s"] for o in self.ops),
                "stored_bytes_per_input_byte":
                    stored_ratio(self.ctx, self.last_wh)}

    def detail(self) -> list:
        return [{k: o[k] for k in ("ingest_s", "head_s", "cpu")}
                for o in self.ops]


# --------------------------------------------------------------------------
# warehouse_queries
# --------------------------------------------------------------------------

def query_params(ctx: Context, rng: random.Random) -> dict:
    minute = rng.randrange(ctx.n_files * inputs.INTERVAL_S // 60)
    start = np.datetime64(ctx.day) + np.timedelta64(minute, "m")
    return {"t0": str(start).replace("T", " "),
            "t1": str(start + np.timedelta64(1, "m")).replace("T", " "),
            "freq": 3.545e9 + 10e6 * rng.randrange(inputs.N_CHANNELS)}


def build_query(ctx: Context, wh: str, name: str, p: dict):
    spark = ctx.spark
    if name in corpus.CORPUS_QUERIES:
        return corpus.build(spark, ctx.corpus_dir, name)

    def product(table):
        return ingest_mod.read_product(spark, wh, table)

    if name == "first_rows":
        return product("psd").limit(10)
    if name == "pvt_range_1m":
        ts = F.col("datetime")
        return product("pvt").where((ts >= F.lit(p["t0"]).cast("timestamp"))
                                    & (ts < F.lit(p["t1"]).cast("timestamp")))
    if name == "trace_xsec":
        return functions.trace(
            spark.read.parquet(os.path.join(wh, "traces")), "pfp",
            frequency=p["freq"], capture_statistic="mean", detector="rms")
    if name == "meta_rollup":
        ch = spark.read.parquet(os.path.join(wh, "channel_metadata"))
        return (ch.where(F.col("date") == F.lit(ctx.day).cast("date"))
                .groupBy("frequency")
                .agg(F.count("*").alias("captures"),
                     F.avg("cal_gain_dB").alias("gain"),
                     F.avg("cal_noise_figure_dB").alias("noise_figure"),
                     F.sum(F.col("overload").cast("int")).alias("overloads"),
                     F.min("datetime").alias("first"),
                     F.max("datetime").alias("last")))
    if name == "apd_series":
        return ops.apd_series(product("apd").where(
            F.col("frequency") == p["freq"]))
    if name == "capture_summary":
        return ops.capture_summary(
            spark.read.parquet(os.path.join(wh, "traces")),
            spark.read.parquet(os.path.join(wh, "channel_metadata")))
    if name == "stitch_psd":
        return ops.stitch_psd(product("psd"))
    if name == "frame_sync":
        # one channel-day: the per-capture numpy sync costs ~7 ms of CPU
        # per capture, so the whole day's 15 channels would outweigh the
        # rest of the mix several times over
        pfp = product("pfp").where(F.col("frequency") == p["freq"])
        return ops.ul_dl_split(ops.roll_pfp(pfp, ops.pfp_frame_sync(pfp)),
                               trace_length=inputs.GEOMETRY[2])
    raise ValueError(name)


def run_query(ctx: Context, wh: str, name: str, p: dict,
              jvm_gc: bool = True) -> None:
    """Run one query; log its latency, process-tree CPU seconds and build
    time (the eager jobs of iterative corpus queries run in the build)."""
    group = ctx.group(f"q.{name}")
    cpu0 = host.tree_cpu()
    t0 = time.perf_counter()
    with ctx.tracer.span(f"query.{name}"):
        df = build_query(ctx, wh, name, p)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    cpu1 = host.tree_cpu()
    ctx.query_log.append((name, group, dt,
                          {k: cpu1[k] - cpu0[k] for k in cpu0}, t1 - t0))
    ctx.hygiene(jvm_gc)


def query_mix(ctx: Context,
              queries: tuple = QUERIES + corpus.CORPUS_QUERIES) -> list:
    """Each query once, with parameters and order drawn from the seed."""
    rng = random.Random(ctx.seed)
    mix = [(q, query_params(ctx, rng)) for q in queries]
    rng.shuffle(mix)
    return mix


def query_pass(ctx: Context, wh: str, mix: list,
               jvm_gc: bool = True) -> int:
    for q, p in mix:
        run_query(ctx, wh, q, p, jvm_gc)
    return len(mix)


def capture_summary_reference(ctx: Context, freq: float) -> dict:
    """One channel-day of ``capture_summary`` recomputed with numpy from a
    single-process decode of every file."""
    out = {}
    for _, raw in inputs.members(ctx.zip):
        recs = [r for r in sigmf.decode_sigmf_trace_records(raw)
                if r[3] == freq]
        by = {(r[1], r[4], r[5]): r[7].astype(np.float64) for r in recs}
        us = int(recs[0][2].astype("datetime64[us]").astype(np.int64))
        out[us] = (np.median(by[("pfp", "mean", "rms")]),
                   by[("pfp", "max", "peak")].max(),
                   np.median(by[("psd", "mean", None)]),
                   by[("psd", "mean", None)].max())
    return out


def check_queries(ctx: Context, wh: str) -> None:
    p = query_params(ctx, random.Random(-ctx.seed))
    n, nch = ctx.n_files, inputs.N_CHANNELS
    # pvt rows in the minute: 2 per channel capture whose time falls in it
    t0, t1 = (np.datetime64(p[k].replace(" ", "T")) for k in ("t0", "t1"))
    day0 = np.datetime64(ctx.day)
    caps = sum(t0 <= day0 + np.timedelta64(inputs.INTERVAL_S * i * 1000
                                           + 137 * ch, "ms") < t1
               for i in range(n) for ch in range(nch))
    got = build_query(ctx, wh, "pvt_range_1m", p).count()
    ctx.check(got == 2 * caps, f"pvt_range_1m: {got} rows, want {2 * caps}")

    cols = ["median_rms_pfp", "max_max_pfp", "median_mean_power",
            "max_max_power"]
    rows = (build_query(ctx, wh, "capture_summary", p)
            .select("frequency", F.unix_micros("datetime").alias("us"),
                    *cols).collect())
    ctx.check(len(rows) == n * nch,
              f"capture_summary: {len(rows)} rows, want {n * nch}")
    ref = capture_summary_reference(ctx, p["freq"])
    got = {r.us: tuple(r[c] for c in cols) for r in rows
           if r.frequency == p["freq"]}
    ok = got.keys() == ref.keys() and all(
        np.allclose(got[k], ref[k], rtol=1e-9, atol=0) for k in ref)
    ctx.check(ok, "capture_summary channel-day differs from numpy")


class WarehouseQueries:
    name = "warehouse_queries"
    min_ops = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wh = ctx.warehouse("wh")
        self.mix = query_mix(ctx)
        self.op_size = len(self.mix)        # queries in one pass

    def setup(self) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        ingest_mod.ingest(ctx.spark, ctx.zip, self.wh)
        ctx.hygiene()
        t1 = time.perf_counter()
        # warm-up: each warehouse query once; the corpus queries warm up
        # in their oracle check, which is run once per run
        query_pass(ctx, self.wh, query_mix(ctx, QUERIES), jvm_gc=False)
        t2 = time.perf_counter()
        corpus.check(ctx, ctx.corpus_dir)
        ctx.hygiene()
        ctx.query_log.clear()
        return {"build_warehouse_s": t1 - t0, "warmup_queries_s": t2 - t1,
                "check_corpus_s": time.perf_counter() - t2}

    def run_op(self) -> int:
        return query_pass(self.ctx, self.wh, self.mix)

    def verify(self) -> None:
        check_queries(self.ctx, self.wh)

    def metrics(self) -> dict:
        log = self.ctx.query_log            # the timed passes' queries
        lat = [dt for _, _, dt, _, _ in log]
        return {"throughput": len(lat) / sum(lat),
                "cpu_s_per_item": sum(cpu["total"] for _, _, _, cpu, _ in log)
                / len(lat),
                "latency_p50_s": statistics.median(lat),
                "first_rows_s": statistics.median(
                    dt for q, _, dt, _, _ in log if q == "first_rows"),
                "stored_bytes_per_input_byte": stored_ratio(self.ctx,
                                                            self.wh)}

    def detail(self) -> list:
        return [(name, dt, cpu, build)
                for name, _, dt, cpu, build in self.ctx.query_log]


WORKLOADS = {w.name: w for w in (IngestDay, WarehouseQueries)}
