"""Per-layer metrics of the traced run.

Every workload reports the same set: after its timed window the probe
times single-process decode, one traced ``ingest()`` (its span tree and
job counts), the decode stages alone through the noop sink, one cold
first-rows read, and the query mix (the timed passes of
``warehouse_queries``, or one pass over the probe warehouse): per
warehouse query its latency and the bytes and files it read, per corpus
query its build and action times and its job count."""

from __future__ import annotations

import os
import statistics
import time

from nasctn_sea_ingest_spark import api, functions
from nasctn_sea_ingest_spark import operators as ops
from nasctn_sea_ingest_spark.operators import dedup, graph, similarity
from nasctn_sea_ingest_spark.sources import ingest as ingest_mod
from nasctn_sea_ingest_spark.sources import sigmf

from . import corpus, host, inputs
from .workloads import (QUERIES, TABLES, first_rows, parquet_files,
                        query_mix, query_pass)

# window metrics too noisy on a shared host for an end-to-end bound; the
# traced run reports them as ``wall.<name>``
WALL = ("throughput", "latency_p50_s", "first_rows_s", "peak_rss_mb")

# public calls the traced run records a span around
TRACED = (
    (ingest_mod, ("ingest", "list_sigmf_refs", "decode_traces",
                  "decode_channel_metadata", "decode_sweep_metadata",
                  "read_product")),
    (api, ("read_seamf_zipfile_as_sdf", "list_sigmf_refs")),
    (functions, ("trace",)),
    (ops, ("capture_summary", "pfp_frame_sync", "roll_pfp", "ul_dl_split",
           "apd_series", "stitch_psd")),
    (graph, ("betweenness",)),
    (similarity, ("cosine_pairs",)),
    (dedup, ("jaccard_pairs", "dup_clusters")),
)


def install(tracer, spark) -> None:
    for module, names in TRACED:
        for name in names:
            tracer.wrap(module, name, f"{module.__name__.split('.')[-1]}"
                                      f".{name}")
    # the declared corpus queries' builders
    for name in corpus.DECLARED:
        tracer.wrap(corpus.declared(name), "spark", f"plans.{name}")
    # the session's concrete classes: their methods override the base ones
    df = spark.range(1)
    tracer.wrap(type(df.write), "parquet", "write.parquet")
    tracer.wrap(type(df), "count", "count")


def probe(ctx, cores: int) -> dict:
    m: dict[str, float] = {}
    files = inputs.members(ctx.zip)
    for key, fn in (("sigmf.decode_ms_per_file",
                     sigmf.decode_sigmf_trace_records),
                    ("sigmf.meta_ms_per_file", sigmf.decode_sigmf_meta)):
        t0 = time.perf_counter()
        for _, raw in files:
            fn(raw)
        m[key] = (time.perf_counter() - t0) * 1000 / len(files)

    # one traced ingest into a fresh warehouse
    wh = ctx.warehouse("probe")
    tracer = ctx.tracer
    cpu0 = host.tree_cpu()
    group = ctx.group("probe.ingest")
    ingest_mod.ingest(ctx.spark, ctx.zip, wh)
    cpu1 = host.tree_cpu()
    ctx.hygiene()
    top = tracer.finished("ingest.ingest")[-1]
    top_id = tracer.spans.index(top)
    span_s = top["end"] - top["start"]
    listing = [s for s in tracer.spans if s["parent"] == top_id
               and s["name"] == "ingest.list_sigmf_refs"]
    m["ingest.span_s"] = span_s
    m["ingest.list_refs_s"] = sum(s["end"] - s["start"] for s in listing)
    for k, v in host.group_counts(ctx.sc, group).items():
        m[f"ingest.{k}"] = v
    for kind in ("jvm", "python", "driver"):
        m[f"ingest.{kind}_cpu_s"] = cpu1[kind] - cpu0[kind]
    for table in TABLES:
        written = parquet_files(os.path.join(wh, table))
        m[f"ingest.files_written.{table}"] = len(written)
        m[f"ingest.bytes_written.{table}"] = sum(map(os.path.getsize,
                                                     written))

    # the decode stages alone, through the noop sink
    for key, fn in (("ingest.decode_traces_s", ingest_mod.decode_traces),
                    ("ingest.channel_meta_s",
                     ingest_mod.decode_channel_metadata),
                    ("ingest.sweep_meta_s", ingest_mod.decode_sweep_metadata)):
        refs = ingest_mod.list_sigmf_refs(ctx.spark, ctx.zip)
        t0 = time.perf_counter()
        with tracer.span(f"noop.{key}"):
            fn(refs).write.format("noop").mode("overwrite").save()
        m[key] = time.perf_counter() - t0
        ctx.hygiene()
    # what ingest() spends beyond listing and decoding: sort, parquet
    # encode and commit, the quarantine and log jobs
    m["ingest.write_s"] = span_s - sum(
        m[k] for k in ("ingest.list_refs_s", "ingest.decode_traces_s",
                       "ingest.channel_meta_s", "ingest.sweep_meta_s"))
    m["ingest.decode_efficiency"] = (
        len(files) * m["sigmf.decode_ms_per_file"] / 1000
        / (cores * m["ingest.decode_traces_s"]))

    group = ctx.group("probe.first_rows")
    first_rows(ctx)
    ctx.hygiene()
    counts = host.group_counts(ctx.sc, group)
    m["api.first_rows_jobs"] = counts["jobs"]
    m["api.first_rows_tasks"] = counts["tasks"]

    if not ctx.query_log:
        query_pass(ctx, wh, query_mix(ctx))
    log = ctx.query_log
    io = host.group_inputs(ctx.spark, [g for _, g, _, _, _ in log])
    med = statistics.median
    for q in QUERIES:
        mine = [(g, dt) for name, g, dt, _, _ in log if name == q]
        m[f"wh.{q}_s"] = med(dt for _, dt in mine)
        m[f"wh.{q}_bytes_read"] = med(io[g]["bytes"] for g, _ in mine)
        m[f"wh.{q}_files_read"] = med(io[g]["files"] for g, _ in mine)
    for q in corpus.CORPUS_QUERIES:
        mine = [(g, dt, build) for name, g, dt, _, build in log if name == q]
        m[f"corpus.{q}_build_s"] = med(b for _, _, b in mine)
        m[f"corpus.{q}_action_s"] = med(dt - b for _, dt, b in mine)
        m[f"corpus.{q}_jobs"] = med(host.group_counts(ctx.sc, g)["jobs"]
                                    for g, _, _ in mine)
    lat = sorted(dt for _, _, dt, _, _ in log)
    # highest percentile with at least 10 samples beyond it (p50 below 20)
    p = max(0.5, 1 - 10 / len(lat))
    m["wh.query_tail_s"] = lat[min(len(lat) - 1, int(p * len(lat)))]
    m["wh.query_samples"] = len(lat)
    return m
