"""Structured Streaming ingest (SURVEY.md §2.10): sensors drop a ``.sigmf``
file every ~90 s into a landing directory; this module ingests them
continuously into the same partitioned warehouse the batch job writes, and
maintains a watermarked daily rollup for late/out-of-order arrivals.

The reference is strictly batch over completed archives — streaming is the
natural Spark extension: ``readStream.format("binaryFile")`` tails the
landing dir (exactly-once via checkpointed file tracking), the decode is
batch ingest's one quarantine stage (``sources.ingest._decode_stage``, fed
the ``content`` column), and ``foreachBatch`` appends to the warehouse. At
scale the landing dir lives on object storage and ``maxFilesPerTrigger``
bounds per-micro-batch work.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from collections.abc import Iterator
from functools import reduce
from operator import or_

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions import array_mean_db
from ..sources.ingest import TRACE_SCHEMA, _decode_stage
from ..sources.sigmf import decode_sigmf_trace_records

__all__ = ["read_sigmf_stream", "stream_to_warehouse", "daily_rollup",
           "session_rollup", "gap_monitor", "dedup_stream",
           "calibration_join", "document_stream", "neardup_stream",
           "sliding_rollup", "upsert_stream", "sketch_rollup_stream",
           "heavy_hitters_stream", "weighted_reservoir_stream",
           "cusum_monitor_stream", "capture_summary_stream",
           "occupancy_monitor_stream", "quantile_rollup_stream",
           "cm_rollup_stream", "fingerprint_rollup_stream",
           "index_stream", "pca_moments_stream", "media_dedup_stream",
           "fuzzy_dedup_stream", "decontam_stream",
           "kmv_rollup_stream",
           "funnel_monitor_stream", "colocation_monitor_stream",
           "fd_profile_stream", "components_stream",
           "components_stream_bucketed", "compact_candidate_store",
           "skew_profile_stream", "lpa_communities_stream",
           "duplicate_spans_stream", "duplicate_spans_snapshot",
           "window_index_reproject", "semdedup_store_reproject"]


def read_sigmf_stream(spark: SparkSession, landing_dir: str,
                      tz: str | None = None, hash_check: bool = True,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming DataFrame of decoded trace rows from a landing directory.

    File discovery/checkpointing comes from the binaryFile streaming source;
    decode is the batch readers' own quarantine stage, fed the ``content``
    column, so rows and error text match ``decode_dir``.
    """
    reader = (spark.readStream.format("binaryFile")
              .schema("path STRING, modificationTime TIMESTAMP, "
                      "length LONG, content BINARY")
              .option("pathGlobFilter", "*.sigmf"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(landing_dir).select("path", "content")
    return _decode_stage(raw, TRACE_SCHEMA, decode_sigmf_trace_records,
                         tz=tz, hash_check=hash_check)


def _start(stream: DataFrame, write_batch, checkpoint_dir: str,
           available_now: bool):
    """Start ``stream`` into ``write_batch`` via ``foreachBatch`` — the
    one sink every micro-batch face uses; ``available_now`` drains what
    is there and stops."""
    writer = (stream.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_parquet_or_none(spark, path):
    """Read a parquet dir, or None if it does not exist or holds no data
    files yet — the store-backed monitors' attach convention (their
    ``_store_geometry.json`` manifests and other sidecars are written
    before the first data). A local path (no URI scheme) that does not
    exist, or a local dir holding only ``_``/``.`` entries (hidden to
    Spark's file listing), is answered without a read: Spark would log a
    stack trace for the one, and run a schema-inference job for the
    other. A ``scheme:`` path is always read, since ``os.path`` cannot see
    remote stores; every other analysis error re-raises."""
    if not re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path) and (
            not os.path.exists(path)
            or os.path.isdir(path) and all(n.startswith(("_", "."))
                                           for n in os.listdir(path))):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if ("PATH_NOT_FOUND" not in str(e)
                and "UNABLE_TO_INFER_SCHEMA" not in str(e)):
            raise
        return None


def _write_batch_partition(df: DataFrame, out_dir: str,
                           batch_id: int) -> None:
    """Write ``df`` as one file under ``out_dir/batch=<id>`` — overwrite,
    so a crash-replayed batch rewrites its partition idempotently."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch={int(batch_id)}"))


def stream_to_warehouse(spark: SparkSession, landing_dir: str, out_dir: str,
                        checkpoint_dir: str, tz: str | None = None,
                        available_now: bool = False,
                        max_files_per_trigger: int | None = None,
                        with_summary: bool = False):
    """Continuous ingest: landing dir → partitioned warehouse appends.

    ``foreachBatch`` splits good rows (append to ``traces``, partitioned by
    (table, date)) from quarantined files (append to ``quarantine``) —
    mirroring the batch ``ingest()`` layout so batch and streaming readers
    share one schema. With ``with_summary`` the per-capture
    ``capture_summary`` is maintained incrementally (one appended row per
    capture per micro-batch — captures never split across files, so
    append-only maintenance is exact). Returns the started StreamingQuery.
    """
    from ..operators import capture_summary

    stream = read_sigmf_stream(spark, landing_dir, tz=tz,
                               max_files_per_trigger=max_files_per_trigger)

    tr_path = os.path.join(out_dir, "traces")
    q_path = os.path.join(out_dir, "quarantine")
    sum_path = os.path.join(out_dir, "capture_summary")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            good = (batch_df.where(F.col("error").isNull()).drop("error")
                    .withColumn("date", F.to_date("datetime")))
            # led by the partition columns, or the writer's own sort on
            # them replaces it (as in ingest.backfill_partitions)
            (good.sortWithinPartitions("table", "date", "datetime",
                                       "frequency")
                 .write.mode("append").partitionBy("table", "date")
                 .parquet(tr_path))
            bad = batch_df.where(F.col("error").isNotNull()) \
                          .select("source_file", "error")
            if bad.limit(1).count():
                bad.write.mode("append").parquet(q_path)
            if with_summary:
                (capture_summary(good.drop("date"))
                 .withColumn("date", F.to_date("datetime"))
                 .write.mode("append").partitionBy("date").parquet(sum_path))
        finally:
            batch_df.unpersist()

    return _start(stream, write_batch, checkpoint_dir, available_now)


def gap_monitor(trace_stream: DataFrame, expected_interval_s: float = 90.0,
                factor: float = 2.0) -> DataFrame:
    """Custom *stateful* streaming operator (``applyInPandasWithState``):
    per-frequency acquisition-gap alarms that survive micro-batch
    boundaries — the streaming version of W1 gap detection.

    State per frequency = the last capture timestamp seen (a single row,
    checkpointed). Each micro-batch compares its captures (and the first
    one against the carried state) and emits a row per gap >
    ``factor × expected_interval_s``. Sensors sweep every ~90 s
    (ntia-scos schedule.interval), so a 2× gap means a missed sweep.
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    ref = (trace_stream
           .where((F.col("table") == "pfp")
                  & (F.col("capture_statistic") == "mean")
                  & (F.col("detector") == "rms"))
           .select("frequency", "datetime"))

    out_schema = T.StructType([
        T.StructField("frequency", T.DoubleType()),
        T.StructField("gap_start", T.TimestampType()),
        T.StructField("gap_end", T.TimestampType()),
        T.StructField("gap_seconds", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_us", T.LongType()),
    ])
    threshold = factor * expected_interval_s

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        times: list[pd.Timestamp] = []
        for pdf in pdfs:
            times.extend(pd.to_datetime(pdf["datetime"]))
        times.sort()
        if not times:
            return
        prev = None
        if state.exists:
            (last_us,) = state.get
            prev = pd.Timestamp(last_us, unit="us")
        rows = []
        for t in times:
            if prev is not None:
                gap = (t - prev).total_seconds()
                if gap > threshold:
                    rows.append((key[0], prev, t, gap))
            prev = t
        state.update((int(times[-1].value // 1000),))
        if rows:
            yield pd.DataFrame(rows, columns=["frequency", "gap_start",
                                              "gap_end", "gap_seconds"])

    # gap alarms are emitted exactly once → append mode (file-sink friendly)
    return ref.groupBy("frequency").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def dedup_stream(trace_stream: DataFrame, watermark: str = "2 days",
                 keys: "list[str] | None" = None) -> DataFrame:
    """Streaming exact dedup: drop re-delivered captures — at-least-once
    landing dirs and sensor re-uploads produce byte-identical files under
    new names, the streaming face of the batch exact-dedup op (q23 /
    ``dedup.drop_exact_duplicates``).

    Uses ``dropDuplicatesWithinWatermark``: dedup state is EXPIRED once the
    event time passes the watermark, so state is bounded by (watermark ×
    arrival rate) instead of growing forever like plain
    ``dropDuplicates`` — the property that makes this run indefinitely at
    100 TB/day. Duplicates arriving later than the watermark are a
    warehouse-compaction concern, not a streaming one.
    """
    keys = keys or ["table", "datetime", "frequency", "capture_statistic",
                    "detector", "kind"]
    return (trace_stream.withWatermark("datetime", watermark)
            .dropDuplicatesWithinWatermark(keys))


def daily_rollup(trace_stream: DataFrame,
                 watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling 1-day rollup of the mean/rms PFP stream:
    per (day, frequency) capture count and dB-domain mean/max of the
    per-capture mean power. Late files (archives arrive out of order) are
    folded in until the watermark expires their window."""
    ref = trace_stream.where(
        (F.col("table") == "pfp") & (F.col("capture_statistic") == "mean")
        & (F.col("detector") == "rms"))
    per_capture = ref.select(
        "datetime", "frequency",
        array_mean_db("values").alias("capture_mean_db"))
    lin = F.pow(F.lit(10.0), F.col("capture_mean_db") / 10.0)
    return (per_capture
            .withWatermark("datetime", watermark)
            .groupBy(F.window("datetime", "1 day").alias("day"), "frequency")
            .agg(F.count("*").alias("n_captures"),
                 (10.0 * F.log10(F.avg(lin))).alias("mean_power_db"),
                 F.max("capture_mean_db").alias("max_capture_mean_db"))
            .select(F.col("day.start").cast("date").alias("date"),
                    "frequency", "n_captures", "mean_power_db",
                    "max_capture_mean_db"))


def sliding_rollup(trace_stream: DataFrame, window: str = "1 hour",
                   slide: str = "15 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked SLIDING-window rollup of the mean/rms PFP stream —
    the moving-average monitoring view (each capture lands in
    window/slide overlapping windows; a tumbling window is the
    slide == window special case, ``daily_rollup``). State per key is
    (windows-overlapping-watermark × frequencies) rows — bounded, like
    every watermarked agg here. Emits per (window, frequency) capture
    count and dB-domain mean power."""
    ref = trace_stream.where(
        (F.col("table") == "pfp") & (F.col("capture_statistic") == "mean")
        & (F.col("detector") == "rms"))
    per_capture = ref.select(
        "datetime", "frequency",
        array_mean_db("values").alias("capture_mean_db"))
    lin = F.pow(F.lit(10.0), F.col("capture_mean_db") / 10.0)
    return (per_capture
            .withWatermark("datetime", watermark)
            .groupBy(F.window("datetime", window, slide).alias("w"),
                     "frequency")
            .agg(F.count("*").alias("n_captures"),
                 (10.0 * F.log10(F.avg(lin))).alias("mean_power_db"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "frequency", "n_captures", "mean_power_db"))


def session_rollup(trace_stream: DataFrame, gap: str = "10 minutes",
                   watermark: str = "2 days") -> DataFrame:
    """Session-window rollup: per frequency, group captures into sensor
    "uptime sessions" that close after ``gap`` of silence — the streaming
    native form of the batch gap/sessionize analysis (W1 `datetime.diff()`
    restart detection, `colormap_plots.ipynb` cell 12; batch corpus q51).

    ``F.session_window`` keeps per-key open-session state bounded by the
    watermark; a closed session emits (frequency, session start/end,
    n_captures, mean dB power). Dynamic-gap variants are possible by
    passing a Column as ``gap``.
    """
    ref = trace_stream.where(
        (F.col("table") == "pfp") & (F.col("capture_statistic") == "mean")
        & (F.col("detector") == "rms"))
    per_capture = ref.select(
        "datetime", "frequency",
        array_mean_db("values").alias("capture_mean_db"))
    lin = F.pow(F.lit(10.0), F.col("capture_mean_db") / 10.0)
    return (per_capture
            .withWatermark("datetime", watermark)
            .groupBy(F.session_window("datetime", gap).alias("session"),
                     "frequency")
            .agg(F.count("*").alias("n_captures"),
                 (10.0 * F.log10(F.avg(lin))).alias("mean_power_db"))
            .select(F.col("session.start").alias("session_start"),
                    F.col("session.end").alias("session_end"),
                    "frequency", "n_captures", "mean_power_db"))


def calibration_join(trace_stream: DataFrame, cal_stream: DataFrame,
                     tolerance: str = "1 hour",
                     trace_watermark: str = "2 hours",
                     cal_watermark: str = "3 hours") -> DataFrame:
    """Stream-stream time-interval join: attach calibration records (e.g.
    the noise-figure series the reference aligns with
    ``get_indexer(method='nearest')``, ``plots.py:76-77``, J1) to the live
    capture stream.

    Spark's stream-stream inner join needs watermarks on BOTH sides plus a
    time-range condition so each side's buffered state is droppable; here a
    cal record joins captures whose ``datetime`` falls within
    ``[cal_ts, cal_ts + tolerance]`` on the same frequency. Exact
    nearest-pick (one row per capture) remains the batch as-of join
    (`functions.asof_join`) over the warehouse — a stream cannot know a
    closer record won't still arrive; the interval join is the streaming-
    sound superset (all candidates within tolerance).

    ``cal_stream`` columns: cal_ts TIMESTAMP, frequency DOUBLE, plus
    payload columns (nf_db, gain_db, ...).
    """
    t = trace_stream.withWatermark("datetime", trace_watermark)
    c = (cal_stream.withColumnRenamed("frequency", "cal_frequency")
         .withWatermark("cal_ts", cal_watermark))
    cond = ((F.col("frequency") == F.col("cal_frequency"))
            & (F.col("datetime") >= F.col("cal_ts"))
            & (F.col("datetime")
               <= F.col("cal_ts") + F.expr(f"INTERVAL {tolerance}")))
    return t.join(c, cond, "inner").drop("cal_frequency")


def document_stream(spark: SparkSession, landing_dir: str,
                    min_quality: float = 0.5,
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming LLM-document ingest: tail a landing dir of JSONL files
    (``{"doc_id": ..., "ts": ..., "lang": ..., "text": ...}``), apply the
    map-only corpus gates as the stream flows — quality scoring, PII
    scrubbing — then drop re-delivered doc_ids within the watermark.

    The text operators are ordinary column expressions, so the SAME code
    path serves batch (``plans.pipeline``) and streaming; only the dedup
    step switches to its watermark-bounded streaming form. Near-dup/
    clustering stay batch jobs over the accumulated warehouse (they need
    corpus-wide joins a stream cannot see).
    """
    from ..operators.text import quality_score, scrub_pii

    schema = ("doc_id BIGINT, ts TIMESTAMP, lang STRING, text STRING")
    raw = (spark.readStream.format("json").schema(schema)
           .option("pathGlobFilter", "*.jsonl").load(landing_dir))
    gated = (quality_score(raw).where(F.col("quality") >= min_quality)
             .select("doc_id", "ts", "lang", "text"))
    scrubbed = scrub_pii(gated)
    return (scrubbed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["doc_id"]))


def neardup_stream(doc_stream: DataFrame, band_index: DataFrame,
                   n: int = 3, n_hashes: int = 32,
                   n_bands: int = 8) -> DataFrame:
    """Streaming near-dup detection against a static corpus: flag each
    arriving document whose MinHash-LSH band bucket collides with an
    indexed document (``dedup.minhash_band_index`` over the accumulated
    warehouse). Output: one row per (arriving doc × matched corpus doc ×
    colliding band) — dedupe downstream per sink needs.

    The stream side computes signatures with the pure-expression path
    (``dedup.minhash_signature_expr`` — per-row, stateless, append-mode
    safe; the batch groupBy form is not available to a stream), banded
    with the same stateless explode, then a STREAM-STATIC equi-join on
    (band, bucket). Both sides use the same hash family, so buckets
    align. At 100 TB the index is stored bucketed by (band, bucket),
    making each micro-batch probe a pruned co-located join; the index
    refreshes by periodic batch rebuild (near-dup state cannot live in
    the stream — it is corpus-wide by definition; this split is the
    standard lambda shape for continuous ingest).
    """
    from ..operators.dedup import band_buckets, minhash_signature_expr

    # a stamped index (minhash_band_index column metadata) pins the
    # parameters its buckets were hashed with: probing with different
    # (n, n_hashes, n_bands) would silently match nothing — the
    # store-geometry contract in DataFrame form.  Legacy unstamped
    # indexes skip the check (nothing to validate against).
    stamp = {k: v for k, v in
             (band_index.schema["bucket"].metadata or {}).items()
             if k.startswith("minhash_")}
    want = {"minhash_n": int(n), "minhash_hashes": int(n_hashes),
            "minhash_bands": int(n_bands)}
    if stamp and stamp != want:
        raise ValueError(
            f"neardup_stream: band index was built with {stamp}, "
            f"probe configured with {want} — buckets would silently "
            "never match; rebuild the index or match the parameters")
    sig = minhash_signature_expr("text", n=n, n_hashes=n_hashes)
    s = (doc_stream.withColumn("sig", sig)
         # no n-gram (short text) → null-element signature: never matches
         .where(F.col("sig")[0].isNotNull()))
    banded = band_buckets(s, n_bands, id_col="doc_id", sig_col="sig")
    idx = band_index.select(F.col("id").alias("matched_id"),
                            "band", "bucket")
    return (banded.join(idx, ["band", "bucket"])
                  .where(F.col("id") != F.col("matched_id"))
                  .select(F.col("id").alias("doc_id"), "matched_id",
                          "band"))


def _bucketed_snapshot(updates: DataFrame, out_dir: str, checkpoint_dir: str,
                       kind: str, keys: "list[str]", n_buckets: int,
                       available_now: bool, rows, merge,
                       freeze: bool = False, after=None):
    """foreachBatch body of every key-bucketed snapshot (upsert, and so
    capture_summary and index, sketch and quantile): the store is
    partitioned by ``kb = pmod(hash(keys), n_buckets)``, recorded in its
    ``_store_geometry.json`` manifest, and each batch rewrites only the
    buckets its keys touch. ``rows(batch_df, batch_id)`` builds the
    batch's rows; ``merge(existing, b, batch_id)`` folds them into the
    touched buckets' stored rows (frozen first when ``freeze``);
    ``after(out, batch_id)`` runs after the write. The merged frame is
    materialized by an eager ``localCheckpoint`` — Spark refuses to
    overwrite a path the same plan reads — and written by dynamic
    partition overwrite, a per-WRITE option: never the session conf, so
    concurrent queries on one session can't race into a static-mode
    full wipe."""
    def with_kb(df: DataFrame) -> DataFrame:
        return df.withColumn("kb", F.pmod(F.hash(*keys), n_buckets))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _bucket_geometry_guard(spark, out_dir, kind, keys, n_buckets)
        b = with_kb(rows(batch_df, batch_id))
        b.persist()
        try:
            touched = [r.kb for r in b.select("kb").distinct().collect()]
            if not touched:
                return
            # the manifest alone (a crash between the stamp and the first
            # snapshot write) reads as no snapshot; any other analysis
            # error fails the batch — an empty `existing` would delete
            # every untouched key in the rewritten buckets
            existing = _read_parquet_or_none(spark, out_dir)
            if existing is None:
                existing = b.limit(0)
            else:
                existing = existing.where(F.col("kb").isin(touched))
                if freeze:
                    existing = existing.localCheckpoint(eager=True)
            out = with_kb(merge(existing, b, batch_id)) \
                .localCheckpoint(eager=True)
            (out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("kb").parquet(out_dir))
            if after is not None:
                after(out, batch_id)
        finally:
            b.unpersist()

    return _start(updates, write_batch, checkpoint_dir, available_now)


def upsert_stream(updates: DataFrame, out_dir: str, checkpoint_dir: str,
                  keys: "list[str]", order_by: "list[str]",
                  n_buckets: int = 64,
                  available_now: bool = False,
                  transform=None):
    """Micro-batch MERGE: maintain a last-wins keyed snapshot under
    ``out_dir`` from a stream of update rows — the streaming face of
    ``functions.merge_upsert`` for a plain-parquet warehouse (no table
    format needed).

    Layout: the snapshot is partitioned by ``kb = pmod(hash(keys), n)``
    (key-bucketed). Each micro-batch (1) collapses itself last-wins,
    (2) reads ONLY the snapshot buckets its keys touch (partition
    pruning), (3) merges, (4) rewrites just those buckets via dynamic
    partition overwrite (the shared body, :func:`_bucketed_snapshot`).
    Cost per batch is O(touched buckets), not O(snapshot) — size
    ``n_buckets`` so one bucket ≈ a few hundred MB at your
    steady-state snapshot size. Within a batch, ties on ``order_by``
    resolve by the trailing column, so make its last element unique
    (e.g. an event id) for exact-once-equivalent determinism.

    ``n_buckets`` is baked into the on-disk layout; it is recorded in
    the store's ``_store_geometry.json`` manifest on first write and
    validated every batch — restarting with a different value raises
    instead of silently leaving stale duplicate keys in unread buckets.
    A store written before the manifest (its layout was an
    ``_upsert_meta`` sidecar, now ignored) is stamped only after a
    one-time check of every stored ``kb`` (:func:`_bucket_geometry_guard`).

    ``transform(batch_df, batch_id)``, when given, maps each micro-batch
    BEFORE the merge — the hook that turns this into an incrementally
    maintained derived table (aggregate the batch, stamp a version
    column, then last-wins-merge by the derived key); see
    :func:`capture_summary_stream`.  It must be deterministic for a given
    (batch rows, batch_id) pair or crash-replay idempotence is lost.
    """
    from ..functions import merge_upsert

    def rows(batch_df: DataFrame, batch_id: int) -> DataFrame:
        if transform is not None:
            batch_df = transform(batch_df, batch_id)
        return merge_upsert(batch_df.limit(0), batch_df, keys, order_by)

    return _bucketed_snapshot(
        updates, out_dir, checkpoint_dir, "upsert", keys, n_buckets,
        available_now, rows,
        lambda existing, b, _: merge_upsert(existing, b, keys, order_by))


def capture_summary_stream(traces: DataFrame, out_dir: str,
                           checkpoint_dir: str,
                           channel_metadata: DataFrame | None = None,
                           n_buckets: int = 16,
                           available_now: bool = False):
    """Incrementally maintained ``capture_summary`` table (the D6
    flagship indicator rollup, reference ``demos/dask_processing.ipynb``
    cell 3): as trace files land, each micro-batch computes
    :func:`operators.capture_summary` over ITS OWN rows and last-wins
    upserts the result by capture key ``(datetime, frequency)`` into a
    key-bucketed parquet snapshot — so the summary table is current
    after every trigger without ever re-scanning trace history, and a
    re-delivered/corrected capture file REPLACES its summary rows
    instead of duplicating them (the append-only ``with_summary`` path
    in :func:`stream_to_warehouse` cannot do either).

    Contract: all rows of one capture must land in the same micro-batch.
    The file landing source guarantees this — a capture's traces live in
    one .sigmf archive and Spark's file source assigns whole files to a
    batch.  Cost per trigger is O(batch + touched buckets) via
    :func:`upsert_stream`'s dynamic-partition-overwrite merge; replaying
    a crashed batch rewrites the same rows (idempotent — the version
    column is the deterministic ``batch_id``), crash-replay-audited like
    the other monitors.

    The snapshot carries ``updated_batch`` (the writing batch id) and
    the bucket column ``kb`` alongside the summary columns.
    """
    from ..operators import capture_summary

    def tf(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (capture_summary(batch_df, channel_metadata)
                .withColumn("updated_batch",
                            F.lit(int(batch_id)).cast("long")))

    return upsert_stream(traces, out_dir, checkpoint_dir,
                         keys=["datetime", "frequency"],
                         order_by=["updated_batch"],
                         n_buckets=n_buckets,
                         available_now=available_now,
                         transform=tf)


def sketch_rollup_stream(updates: DataFrame, out_dir: str,
                         checkpoint_dir: str, keys: "list[str]",
                         value_col: str, lg_k: int = 14,
                         n_buckets: int = 16,
                         available_now: bool = False):
    """Incrementally maintained distinct-count sketches: each micro-batch
    HLL-sketches its own rows per key and UNIONS into the stored per-key
    sketch (DataSketches HLL union is associative and idempotent-ish at
    sketch level), so "distinct users ever / per key" stays queryable at
    any moment without ever re-scanning history — state per key is one
    ~2^lg_k-byte sketch no matter how many rows flowed through.

    Storage layout is :func:`upsert_stream`'s (:func:`_bucketed_snapshot`):
    key-bucketed parquet with dynamic partition overwrite of ONLY the
    touched buckets. Read the estimates with
    ``hll_sketch_estimate(sketch)`` over the snapshot.
    """
    def rows(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.groupBy(*keys).agg(
            F.expr(f"hll_sketch_agg({value_col}, {lg_k})").alias("sketch"))

    def merge(existing: DataFrame, b: DataFrame, batch_id: int) -> DataFrame:
        return (existing.unionByName(b).groupBy(*keys)
                .agg(F.expr("hll_union_agg(sketch)").alias("sketch")))

    return _bucketed_snapshot(updates, out_dir, checkpoint_dir,
                              "sketch_rollup", keys, n_buckets,
                              available_now, rows, merge)


def quantile_rollup_stream(updates: DataFrame, out_dir: str,
                           checkpoint_dir: str, keys: "list[str]",
                           value_col: str, k: int = 200,
                           n_buckets: int = 16,
                           available_now: bool = False,
                           baseline: DataFrame | None = None,
                           alerts_dir: str | None = None,
                           psi_bins: int = 10):
    """Incrementally maintained per-key QUANTILE sketches (the
    ``operators.sketch`` compactor stack): each micro-batch sketches its
    own rows per key and merges into the stored sketch row, so "p99 ever
    / per key" stays queryable at any moment — state per key is ``<= 2k``
    weighted values no matter how many rows flowed through.  Read
    estimates straight off the snapshot with
    ``sketch.sketch_quantile_expr("values", "weights", q)``.

    Replay safety: unlike HLL union (register-max, re-merge-idempotent),
    sketch merge ADDS weight — replaying a crashed batch into a key that
    already absorbed it would double-count.  Each key row therefore
    carries ``updated_batch``; a replayed batch drops keys whose stored
    ``updated_batch >= batch_id`` before merging, making the rewrite
    bucket-idempotent (the :func:`upsert_stream` determinism contract
    extended to mergeable state).  Layout is the other rollups'
    (:func:`_bucketed_snapshot`): key-bucketed parquet, dynamic
    partition overwrite of touched buckets only — O(batch + touched
    buckets) per trigger.

    Drift alerts: pass a frozen ``baseline`` sketch table (a
    ``grouped_quantile_sketch`` snapshot) and an ``alerts_dir`` — after
    each merge the TOUCHED keys' updated sketches are PSI-scored
    against the baseline (``sketch.psi_table``) and the per-key rows
    land under ``alerts_dir/batch=<id>`` (overwritten idempotently on
    replay).  Streaming drift monitoring at O(touched keys x sketch)
    per trigger, no rescan of anything.
    """
    from ..operators.sketch import (grouped_quantile_sketch,
                                    merge_sketch_rows, psi_table)

    sketch_cols = ["values", "weights", "n"]

    def rows(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (grouped_quantile_sketch(batch_df, keys, value_col, k)
                .withColumn("updated_batch",
                            F.lit(int(batch_id)).cast("long")))

    def merge(existing: DataFrame, b: DataFrame, batch_id: int) -> DataFrame:
        already = existing.where(F.col("updated_batch") >=
                                 F.lit(int(batch_id))).select(*keys)
        fresh = b.join(F.broadcast(already), keys, "left_anti")
        merged = merge_sketch_rows(
            existing.select(*keys, *sketch_cols),
            fresh.select(*keys, *sketch_cols), keys, k)
        stamp = (existing.select(*keys, "updated_batch")
                 .unionByName(fresh.select(*keys, "updated_batch"))
                 .groupBy(*keys)
                 .agg(F.max("updated_batch").alias("updated_batch")))
        return merged.join(stamp, keys)

    def alert(out: DataFrame, batch_id: int) -> None:
        scored = psi_table(out.select(*keys, *sketch_cols), baseline, keys,
                           k=k, bins=psi_bins).localCheckpoint(eager=True)
        _write_batch_partition(scored, alerts_dir, batch_id)

    return _bucketed_snapshot(
        updates, out_dir, checkpoint_dir, "quantile_rollup", keys,
        n_buckets, available_now, rows, merge, freeze=True,
        after=alert if baseline is not None and alerts_dir is not None
        else None)


def index_stream(docs: DataFrame, out_dir: str, checkpoint_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 64,
                 available_now: bool = False):
    """Incrementally maintained inverted index: each micro-batch of
    documents tokenizes into posting rows (``operators.search.
    build_inverted_index`` — a batch is self-contained because a doc's
    postings derive from that doc alone) and last-wins-upserts them by
    ``(tok, doc_id)`` into the key-bucketed snapshot, so
    ``conjunctive_search``/``bm25_search`` run against an index that is
    current after every trigger.

    Contract: documents are APPEND-ONLY or grow-only — a re-delivered
    doc REPLACES postings for tokens it still contains, but postings for
    tokens that vanished from a shrunk revision would linger (deleting
    them needs doc-level tombstones, which a keyed upsert cannot
    express).  Cost per trigger is O(batch postings + touched buckets)
    via :func:`upsert_stream`; replay-idempotent by the deterministic
    ``batch_id`` version column.  Note the bucketing key here is the
    UPSERT key (tok, doc_id); for shard-pruned serving, periodically
    snapshot with ``search.write_index`` (token-sharded layout).
    """
    from ..operators.search import build_inverted_index

    def tf(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (build_inverted_index(batch_df, text_col, id_col)
                .withColumn("updated_batch",
                            F.lit(int(batch_id)).cast("long")))

    return upsert_stream(docs, out_dir, checkpoint_dir,
                         keys=["tok", "doc_id"],
                         order_by=["updated_batch"],
                         n_buckets=n_buckets,
                         available_now=available_now,
                         transform=tf)


def _guarded_small_rollup(updates: DataFrame, out_dir: str,
                          checkpoint_dir: str, batch_state, merge,
                          available_now: bool):
    """foreachBatch skeleton for SMALL mergeable state: snapshots whose
    size is input-independent (a Count-Min grid, per-partition digest
    rows) are cheapest to maintain by rewriting the WHOLE snapshot each
    trigger — no key bucketing, one parquet dir, O(state) per batch.

    The merges this serves (cell sums, XOR digests) are NOT
    re-merge-idempotent, so the snapshot carries a constant
    ``last_batch`` column and a replayed batch (``last_batch >=
    batch_id``) is skipped entirely — the stamp travels IN the same
    atomic-ish dir rewrite as the state it guards, so there is no
    window where state and stamp disagree (the
    :func:`quantile_rollup_stream` guard, simplified to whole-table
    scope)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        existing = None
        try:
            existing = spark.read.parquet(out_dir) \
                .localCheckpoint(eager=True)
            last = existing.agg(F.max("last_batch")).first()[0]
            if last is not None and last >= batch_id:
                return  # crash replay: this batch is already folded in
            existing = existing.drop("last_batch")
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
        b = batch_state(batch_df)
        merged = b if existing is None else merge(existing, b)
        out = (merged.withColumn("last_batch",
                                 F.lit(int(batch_id)).cast("long"))
               .localCheckpoint(eager=True))
        out.coalesce(1).write.mode("overwrite").parquet(out_dir)

    return _start(updates, write_batch, checkpoint_dir, available_now)


def cm_rollup_stream(updates: DataFrame, out_dir: str,
                     checkpoint_dir: str, item_col: str,
                     depth: int = 5, width: int = 2048,
                     weight_col: str | None = None,
                     available_now: bool = False):
    """Incrementally maintained Count-Min sketch: each micro-batch
    sketches its own rows (``operators.sketch.cm_sketch`` — pure JVM)
    and cell-sums into the stored grid, so "how often has item X ever
    occurred" stays queryable (``cm_lookup`` on the snapshot) at any
    moment with state ``<= depth * width`` cells no matter how many rows
    flowed through.  Because cell-merge is EXACT (counts add), the
    maintained snapshot is cell-identical to a from-scratch sketch of
    everything that ever streamed — asserted by the parity test, with
    crash replays skipped via the ``last_batch`` stamp."""
    from ..operators.sketch import cm_merge, cm_sketch

    return _guarded_small_rollup(
        updates, out_dir, checkpoint_dir,
        lambda b: cm_sketch(b, item_col, depth, width, weight_col),
        cm_merge, available_now)


def fingerprint_rollup_stream(updates: DataFrame, out_dir: str,
                              checkpoint_dir: str, cols: "list[str]",
                              by: "list[str] | None" = None,
                              available_now: bool = False):
    """Incrementally maintained table fingerprint: each micro-batch
    digests its own rows (``functions.table_fingerprint``) and XOR/sum-
    folds into the stored per-group digest, keeping the copy-integrity
    check current as data lands without ever re-reading history — the
    O(delta) maintenance story of ``merge_fingerprint`` given a
    streaming face.  Use a BOUNDED-cardinality ``by`` (date / table
    partitions); state and per-trigger cost are O(groups).  For
    appends the maintained digest equals a from-scratch fingerprint of
    all landed rows exactly (XOR/sum are associative), so a warehouse
    copy can be verified mid-stream at any trigger boundary."""
    from ..functions import merge_fingerprint, table_fingerprint

    return _guarded_small_rollup(
        updates, out_dir, checkpoint_dir,
        lambda b: table_fingerprint(b, cols, by),
        lambda a, b: merge_fingerprint(a, b, by), available_now)


def media_dedup_stream(media: DataFrame, out_dir: str,
                       checkpoint_dir: str, alerts_dir: str,
                       n_buckets: int = 16,
                       auto_compact_files: "int | None" = 64,
                       available_now: bool = False):
    """Streaming EXACT image dedup by perceptual hash: each micro-batch
    dHashes its image rows, flags duplicates (same dhash seen earlier
    in the batch OR already in the store) as alert rows under
    ``alerts_dir/batch=<id>``, and appends the genuinely-new hashes to
    a key-bucketed store — so a re-crawled/duplicate image is caught
    the moment it lands instead of at the next batch dedup run.  The
    multimodal twin of ``dedup_stream`` (watermark dedup can't serve
    here: image re-uploads arrive unboundedly late, so the store is
    persistent, one row per distinct hash ever).

    Near-dup banding (hamming > 0) against the historical store is the
    ``neardup_stream`` static-index pattern; this monitor is the exact
    tier (hamming 0 — byte-level or brightness/resize-invariant
    re-encodes, see ``dhash_np``'s invariances).

    Replay safety (r15, the r14-ADVICE partial-append class shared by
    every append-mode monitor — :func:`_store_read`): each store
    row carries the writing ``batch_id``; alerts and the known-hash
    probe run against PRIOR batches only, the skip requires EVERY
    bucket this batch would write to carry the stamp (a mid-commit
    crash can promote some ``kb=`` partitions and lose others — an
    any-row skip would cement that forever), and a partial replay
    re-appends just the missing buckets (per-bucket appends are
    single-file atomic).  Alerts are overwritten idempotently under
    ``batch=<id>``.  Cost per trigger: O(batch + touched buckets).

    ``auto_compact_files`` (r13 verdict #5): per-trigger file-count
    probe of every ``kb=`` bucket; past the threshold
    :func:`compact_candidate_store` runs in-slot and stamps the
    geometry manifest (None = manual cadence).
    """
    from ..sources.multimodal import image_dhash

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        # stored kb bakes in n_buckets: a re-attach with it changed
        # would prune the wrong buckets and silently miss known hashes
        # (the store-geometry contract; dhash itself is parameterless)
        _store_geometry_guard(out_dir, {
            "kind": "media", "n_buckets": int(n_buckets)})
        spark = batch_df.sparkSession
        h = (image_dhash(batch_df).where(F.col("error").isNull())
             .select("media_id", "dhash")
             .withColumn("kb", F.pmod(F.hash("dhash"), n_buckets)))
        h.persist()
        try:
            touched = [r.kb for r in h.select("kb").distinct().collect()]
            if not touched:
                return
            # partial-append replay contract (r15, the r14 ADVICE
            # class): alerts/probe run against PRIOR batches only, and
            # the skip requires every bucket this batch would write
            prior, done = _store_read(spark, out_dir, touched, batch_id)
            w = Window.partitionBy("dhash").orderBy("media_id")
            ranked = h.withColumn("rn", F.row_number().over(w))
            firsts = ranked.where(F.col("rn") == 1).drop("rn")
            in_batch_dups = (ranked.where(F.col("rn") > 1).drop("rn")
                             .join(firsts.select(
                                 "dhash",
                                 F.col("media_id").alias("dup_of")),
                                 "dhash"))
            if prior is not None:
                known = prior.groupBy("dhash").agg(
                    F.min("media_id").alias("dup_of"))
                stored_dups = firsts.join(known, "dhash") \
                    .select("media_id", "dhash", "kb", "dup_of")
                new = firsts.join(known.select("dhash"), "dhash",
                                  "left_anti")
            else:
                stored_dups = in_batch_dups.limit(0)
                new = firsts
            new = new.localCheckpoint(eager=True)
            expected = {r.kb for r in
                        new.select("kb").distinct().collect()}
            if expected and expected <= set(done):
                return  # replay of a fully-written batch: skip
            alerts = (in_batch_dups.select("media_id", "dhash",
                                           "dup_of")
                      .unionByName(stored_dups.select(
                          "media_id", "dhash", "dup_of"))
                      .localCheckpoint(eager=True))
            _write_batch_partition(alerts, alerts_dir, batch_id)
            _store_append(new, out_dir, done, batch_id,
                          auto_compact_files)
        finally:
            h.unpersist()

    return _start(media, write_batch, checkpoint_dir, available_now)


def pca_moments_stream(embeddings: DataFrame, out_dir: str,
                       checkpoint_dir: str, vec_col: str = "embedding",
                       available_now: bool = False):
    """Incrementally maintained PCA sufficient statistics: each
    micro-batch reduces to its (n, Σx, ΣxxT) moment row
    (``similarity.pca_moments`` — the batch collect is bounded at d+d²
    doubles) and element-wise-sums into the stored single-row state, so
    a CURRENT model is one `pca_from_moments` eigendecomposition away at
    any trigger boundary — the O(delta) model-refresh story given a
    streaming face.  State is one row of d+d² doubles regardless of how
    many vectors streamed; replay is stamp-guarded like the other
    small-state rollups (moment sums double-count without it)."""
    from ..operators.similarity import pca_moments

    def batch_state(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        n, s, g = pca_moments(batch_df, vec_col)
        return spark.createDataFrame(
            [(int(n), [float(x) for x in s],
              [float(x) for x in g.ravel()])],
            "n long, s array<double>, g array<double>")

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        bb = b.select(F.col("n").alias("_n"), F.col("s").alias("_s"),
                      F.col("g").alias("_g"))
        return a.crossJoin(bb).select(
            (F.col("n") + F.col("_n")).alias("n"),
            F.zip_with("s", "_s", lambda x, y: x + y).alias("s"),
            F.zip_with("g", "_g", lambda x, y: x + y).alias("g"))

    return _guarded_small_rollup(embeddings, out_dir, checkpoint_dir,
                                 batch_state, merge, available_now)


def heavy_hitters_stream(events: DataFrame, key_col: str, item_col: str,
                         capacity: int = 64, k: int = 10,
                         api: str = "auto") -> DataFrame:
    """Streaming heavy hitters (trending items) per key group: each
    group keeps a Misra–Gries summary of ``capacity`` counters in typed
    state and emits its current top-``k`` estimate every micro-batch.

    State per key is O(capacity) REGARDLESS of stream length or item
    cardinality — the property that makes "top items ever, right now"
    answerable over an unbounded 100 TB stream where exact per-item
    counts would grow without bound.  Guarantees (classic Misra–Gries):
    ``est <= true <= est + N/(capacity+1)`` and every item with true
    frequency > N/(capacity+1) is retained; with ``capacity`` >= the
    group's distinct-item count the summary is exact.

    ``api``: ``"tws"`` uses Spark 4.x ``transformWithStateInPandas``
    (typed ValueState; requires the ``protobuf`` wire layer),
    ``"applyInPandasWithState"`` the 3.x-compatible GroupState API,
    ``"auto"`` picks tws when protobuf is importable (this container
    ships without it, so auto falls back — same summary, same outputs).

    Emitted columns: ``(key, item, est bigint, n_processed bigint,
    rank int)`` — append mode, processing-time (no event-time
    semantics needed for a monotone summary).
    """
    cap, topk, item = int(capacity), int(k), item_col
    out_schema = (f"{key_col} string, item string, est bigint, "
                  "n_processed bigint, rank int")
    state_schema = "items array<string>, counts array<bigint>, n bigint"

    def _merge(cur: dict, n: int, pdfs) -> "tuple[list, int]":
        for pdf in pdfs:
            for it, c in pdf[item].astype(str).value_counts().items():
                cur[it] = cur.get(it, 0) + int(c)
                n += int(c)
        if len(cur) > cap:
            # Misra–Gries merge: subtract the (len-cap)-th smallest
            # count from every counter, drop the non-positive — the
            # standard summary merge preserving the N/(cap+1) bound
            cut = sorted(cur.values())[len(cur) - cap - 1]
            cur = {it: c - cut for it, c in cur.items() if c > cut}
        return sorted(cur.items(), key=lambda kv: (-kv[1], kv[0])), n

    if api == "auto":
        try:
            from google.protobuf import descriptor  # noqa: F401
            api = "tws"
        except ImportError:
            api = "applyInPandasWithState"

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor, StatefulProcessorHandle)

        class _MG(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._st = handle.getValueState("mg", state_schema)

            def handleInputRows(self, key, rows, timer_values):
                cur, n = {}, 0
                if self._st.exists():
                    items, counts, n = self._st.get()
                    cur = dict(zip(items, counts))
                ordered, n = _merge(cur, n, rows)
                self._st.update(([it for it, _ in ordered],
                                 [int(c) for _, c in ordered], int(n)))
                yield pd.DataFrame(
                    [(key[0], it, int(c), int(n), r + 1)
                     for r, (it, c) in enumerate(ordered[:topk])],
                    columns=[key_col, "item", "est", "n_processed",
                             "rank"])

            def close(self) -> None:
                pass

        return (events.groupBy(key_col)
                .transformWithStateInPandas(statefulProcessor=_MG(),
                                            outputStructType=out_schema,
                                            outputMode="Append",
                                            timeMode="None"))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        cur, n = {}, 0
        if state.exists:
            items, counts, n = state.get
            cur = dict(zip(items, counts))
        ordered, n = _merge(cur, n, pdfs)
        state.update(([it for it, _ in ordered],
                      [int(c) for _, c in ordered], int(n)))
        yield pd.DataFrame(
            [(key[0], it, int(c), int(n), r + 1)
             for r, (it, c) in enumerate(ordered[:topk])],
            columns=[key_col, "item", "est", "n_processed", "rank"])

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def weighted_reservoir_stream(events: DataFrame, key_col: str,
                              id_col: str, weight_col: str,
                              r: int = 10, api: str = "auto") -> DataFrame:
    """Streaming weighted reservoir sampling WITHOUT replacement per key
    group (Efraimidis–Spirakis A-ES, the streaming form of q146): each
    row draws a deterministic uniform from md5(id) — the q55/q146
    portable-hash trick — scores it ``es = -ln(u) / w``, and the group
    keeps the ``r`` SMALLEST scores in typed state.

    Because the score is a pure per-row function, the reservoir is a
    running top-``r`` by (es, id): exactly mergeable across micro-
    batches, so the stream's final reservoir EQUALS the batch A-ES
    sample over the same rows (asserted by the parity test), state is
    O(r) per key regardless of stream length, and a replay of any batch
    is idempotent (same ids → same scores → same top-r).  That is the
    property a 100 TB training-mix subsampler needs: a restartable,
    shardable weighted sample with no sequential draw state.

    ``api`` as in :func:`heavy_hitters_stream`: ``"tws"`` needs the
    protobuf wire layer, ``"auto"`` falls back to the GroupState API in
    containers without it (identical outputs).

    ``n_seen`` counts arrivals not currently in the reservoir — exact
    for unique-id streams (the sampling contract); a re-delivered id
    that was already EVICTED re-counts, because exact distinct-counting
    would need O(ids) state.  The sample itself is immune: the
    re-delivery recomputes the identical score and is evicted again.

    Emitted columns per micro-batch (append mode): ``(key, id, weight
    double, es_key double, n_seen bigint, rank int)``.
    """
    import hashlib
    import math

    res, wcol = int(r), weight_col
    out_schema = (f"{key_col} string, id string, weight double, "
                  "es_key double, n_seen bigint, rank int")
    state_schema = ("ids array<string>, ws array<double>, "
                    "keys array<double>, n bigint")

    def _es(ident: str, w: float) -> float:
        # 52-bit md5 prefix -> uniform in (0, 1], exactly q146's rule —
        # deterministic on any engine/worker, replay-stable
        u = (int(hashlib.md5(ident.encode()).hexdigest()[:13], 16) + 1.0) \
            / 4503599627370497.0
        return -math.log(u) / w

    def _merge(cur: dict, n: int, pdfs) -> "tuple[list, int]":
        for pdf in pdfs:
            for ident, w in zip(pdf[id_col].astype(str),
                                pdf[wcol].astype(float)):
                if w > 0 and ident not in cur:
                    cur[ident] = (_es(ident, w), w)
                    n += 1
        ordered = sorted(cur.items(), key=lambda kv: (kv[1][0], kv[0]))
        return ordered[:res], n

    def _rows(key, ordered, n):
        return pd.DataFrame(
            [(key[0], ident, float(w), float(es), int(n), rk + 1)
             for rk, (ident, (es, w)) in enumerate(ordered)],
            columns=[key_col, "id", "weight", "es_key", "n_seen",
                     "rank"])

    if api == "auto":
        try:
            from google.protobuf import descriptor  # noqa: F401
            api = "tws"
        except ImportError:
            api = "applyInPandasWithState"

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor, StatefulProcessorHandle)

        class _Res(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._st = handle.getValueState("res", state_schema)

            def handleInputRows(self, key, rows, timer_values):
                cur, n = {}, 0
                if self._st.exists():
                    ids, ws, keys, n = self._st.get()
                    cur = {i: (k, w) for i, k, w in zip(ids, keys, ws)}
                ordered, n = _merge(cur, n, rows)
                self._st.update(([i for i, _ in ordered],
                                 [float(v[1]) for _, v in ordered],
                                 [float(v[0]) for _, v in ordered],
                                 int(n)))
                yield _rows(key, ordered, n)

            def close(self) -> None:
                pass

        return (events.groupBy(key_col)
                .transformWithStateInPandas(statefulProcessor=_Res(),
                                            outputStructType=out_schema,
                                            outputMode="Append",
                                            timeMode="None"))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        cur, n = {}, 0
        if state.exists:
            ids, ws, keys, n = state.get
            cur = {i: (k, w) for i, k, w in zip(ids, keys, ws)}
        ordered, n = _merge(cur, n, pdfs)
        state.update(([i for i, _ in ordered],
                      [float(v[1]) for _, v in ordered],
                      [float(v[0]) for _, v in ordered], int(n)))
        yield _rows(key, ordered, n)

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def occupancy_monitor_stream(events: DataFrame, key_col: str,
                             start_col: str, end_col: str) -> DataFrame:
    """Streaming peak-concurrency monitor per key — the production form
    of q155's endpoint sweep line: each event opens an interval
    ``[start, end)``; the monitor maintains the CURRENT number of open
    intervals, the all-time peak, and the earliest instant that peak was
    reached, emitting one row per key per micro-batch.

    State per key is ``(occupancy, peak, peak_at, pending ends)`` — the
    pending list holds end instants of still-open intervals, so its size
    IS the current occupancy (bounded by real concurrency, not stream
    length).  Rows are applied in ``start`` order inside each batch and
    batches are assumed event-time-ordered (the monitoring contract,
    same as :func:`gap_monitor` / :func:`cusum_monitor_stream`); ends
    tied with a start at the same instant close BEFORE the start opens
    (half-open intervals), matching the batch query's net-delta
    semantics, so with in-order arrival the final (peak, peak_at)
    equals the batch sweep over the same rows (parity-tested).
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    sel = events.select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(start_col).cast("long").alias("_s"),
        F.col(end_col).cast("long").alias("_e"))

    out_schema = (f"{key_col} string, n_intervals bigint, "
                  "occupancy bigint, peak bigint, peak_at bigint")
    state_schema = "occ long, peak long, peak_at long, pending array<long>"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import heapq
        if state.exists:
            occ, peak, peak_at, pending = state.get
            pending = list(pending)
        else:
            occ, peak, peak_at, pending = 0, 0, -1, []
        heapq.heapify(pending)
        rows = [pdf[["_s", "_e"]] for pdf in pdfs]
        if not rows:
            return
        batch = pd.concat(rows).sort_values(["_s", "_e"])
        n = 0
        for s, e in zip(batch["_s"], batch["_e"]):
            s, e = int(s), int(e)
            while pending and pending[0] <= s:
                heapq.heappop(pending)
                occ -= 1
            occ += 1
            heapq.heappush(pending, e)
            if occ > peak:
                peak, peak_at = occ, s
            n += 1
        state.update((int(occ), int(peak), int(peak_at),
                      sorted(pending)))
        yield pd.DataFrame(
            [(key[0], int(n), int(occ), int(peak), int(peak_at))],
            columns=[key_col, "n_intervals", "occupancy", "peak",
                     "peak_at"])

    return sel.withColumnRenamed("_k", key_col) \
        .groupBy(key_col).applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)


def cusum_monitor_stream(events: DataFrame, key_col: str, value_col: str,
                         order_col: str, baseline: DataFrame,
                         alert_scaled: int | None = None) -> DataFrame:
    """Streaming CUSUM drift monitor per key — the production form of
    q150's changepoint detector: a batch-computed BASELINE (per key:
    ``n_obs`` observations summing to ``total_cents``) broadcasts onto
    the stream via a stream-static join, and each arriving value adds
    its division-free deviation ``vc * n_obs - total_cents`` (exact
    BIGINT, q150's centering trick — no float mean, no rounding drift
    across micro-batches) to a running sum carried in typed state.

    Emits one row per key per micro-batch with the current cusum, its
    running max |cusum|, a ``known_baseline`` flag, and an ``alert``
    flag once that peak crosses ``alert_scaled`` (same v*n-scaled
    units).  State is 3 integers per key regardless of stream length.
    Rows are applied in ``(order_col, value)`` order inside each batch
    and batches are assumed time-ordered (the monitoring contract —
    same as :func:`gap_monitor`); with in-order arrival the final cusum
    equals the batch computation over the same rows (parity-tested).

    Keys ABSENT from the baseline are NOT dropped (round-5 advisor: the
    original inner join made the monitor blind to brand-new keys — the
    very anomaly it exists to flag): the stream left-joins the
    baseline, unknown keys emit rows with ``known_baseline = false``,
    ``alert = true``, and a zero cusum (no baseline → no drift measure,
    but the appearance itself is the alarm).
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    joined = (events
              .withColumn("_vc", F.expr(
                  f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)"))
              .join(F.broadcast(baseline), key_col, "left")
              .select(key_col, F.col(order_col).alias("_ord"), "_vc",
                      F.col("n_obs").isNotNull().alias("_known"),
                      F.coalesce(F.col("n_obs").cast("long"), F.lit(0))
                      .alias("_n"),
                      F.coalesce(F.col("total_cents").cast("long"),
                                 F.lit(0)).alias("_tot")))

    out_schema = (f"{key_col} string, n_seen bigint, cusum_scaled bigint, "
                  "max_abs_cusum bigint, known_baseline boolean, "
                  "alert boolean")
    state_schema = "cusum long, peak long, n long"
    limit = int(alert_scaled) if alert_scaled is not None else None

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cusum, peak, n = state.get if state.exists else (0, 0, 0)
        rows = []
        for pdf in pdfs:
            rows.append(pdf[["_ord", "_vc", "_n", "_tot", "_known"]])
        if not rows:
            return
        batch = pd.concat(rows).sort_values(["_ord", "_vc"])
        # knownness is a per-key constant (it comes from the static
        # baseline side of the join)
        known = bool(batch["_known"].iloc[0])
        for vc, nb, tot in zip(batch["_vc"], batch["_n"], batch["_tot"]):
            cusum += int(vc) * int(nb) - int(tot)
            peak = max(peak, abs(cusum))
            n += 1
        state.update((int(cusum), int(peak), int(n)))
        yield pd.DataFrame(
            [(key[0], int(n), int(cusum), int(peak), known,
              bool(not known or (limit is not None and peak > limit)))],
            columns=[key_col, "n_seen", "cusum_scaled", "max_abs_cusum",
                     "known_baseline", "alert"])

    return joined.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def fuzzy_dedup_stream(names: DataFrame, out_dir: str,
                       checkpoint_dir: str, alerts_dir: str,
                       id_col: str = "id", text_col: str = "text",
                       max_distance: int = 1, n_buckets: int = 16,
                       max_bucket: int = 1000,
                       auto_compact_files: "int | None" = 64,
                       available_now: bool = False):
    """Streaming FUZZY string dedup (the entity-resolution face of
    ``media_dedup_stream``): each micro-batch fuzzy-matches its short
    strings — names, titles, codes — against BOTH the batch itself and
    an append-only posting store of every distinct name seen, flagging
    matches within Levenshtein ``max_distance`` as alert rows under
    ``alerts_dir/batch=<id>`` pointing at the earlier occurrence.

    Candidate generation is the ``dedup.edit_distance_pairs`` SymSpell
    shape end to end: the store holds one row per (name, <=k-deletion
    variant) — O(L) rows per name, key-bucketed by variant hash so a
    probe reads only the buckets its own variants touch — and the probe
    is a variant equi-join + map-side exact ``levenshtein`` verify,
    never a scan of the stored names.  Unlike the exact-tier monitors a
    fuzzy match is NOT transitive: an alert names the nearest earlier
    string it matched (min distance, min id tie-break), not a cluster
    representative.

    Only UNMATCHED names join the store (the media_dedup_stream
    contract: duplicates never grow state), so store size tracks the
    distinct-entity count, not the stream length.  Replay safety:
    store rows carry the writing ``batch_id``; the probe runs
    against PRIOR batches only and a replayed batch skips only once
    EVERY bucket it would write is stamped, re-appending just the
    missing ones otherwise (:func:`_store_read` — the r14-ADVICE
    partial-append class), and its ``batch=<id>`` alert
    partition was written atomically (idempotent overwrite).  Cost per
    trigger: O(batch x L + touched-bucket postings).

    ``auto_compact_files`` (r13 verdict #5): per-trigger file-count
    probe of every ``kb=`` bucket; past the threshold
    :func:`compact_candidate_store` runs in-slot and stamps the
    geometry manifest (None = manual cadence).
    """
    from ..operators.dedup import _delete_variants, edit_distance_pairs

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the posting store bakes in max_distance (stored rows are
        # <=max_distance deletion variants) and n_buckets (kb
        # partition): attaching with either changed would probe
        # variants/buckets the store never wrote and silently miss
        # matches (the semdedup geometry contract; max_bucket is a
        # per-batch hot-variant guard, NOT baked into stored keys)
        _store_geometry_guard(out_dir, {
            "kind": "fuzzy", "max_distance": int(max_distance),
            "n_buckets": int(n_buckets)})
        spark = batch_df.sparkSession
        b = (batch_df.select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("text"))
             .where(F.col("text").isNotNull())
             .localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        # in-batch tier: every pair within max_distance; the later id
        # alerts against its nearest earlier match
        pairs = edit_distance_pairs(b, "id", "text", max_distance,
                                    max_bucket)
        in_dups = (pairs.groupBy(F.col("id2").alias("id"))
                   .agg(F.min(F.struct("dist", "id1")).alias("m"))
                   .select("id", F.col("m.id1").alias("dup_of"),
                           F.col("m.dist").alias("dist")))
        firsts = b.join(in_dups.select("id"), "id", "left_anti")
        fv = firsts.select(
            "id", "text",
            F.explode(_delete_variants("text", max_distance))
             .alias("variant"))
        fv = fv.withColumn("kb", F.pmod(F.hash("variant"), n_buckets)) \
               .localCheckpoint(eager=True)
        touched = [r.kb for r in fv.select("kb").distinct().collect()]
        # partial-append replay contract (r15, the r14 ADVICE class)
        prior, done = _store_read(spark, out_dir, touched, batch_id)
        if prior is not None:
            hits = (fv.join(prior.select(F.col("variant").alias("variant"),
                                         F.col("id").alias("sid"),
                                         F.col("text").alias("stext")),
                            "variant")
                    .withColumn("dist", F.levenshtein("text", "stext"))
                    .where(F.col("dist") <= max_distance))
            stored_dups = (hits.groupBy("id")
                           .agg(F.min(F.struct("dist", "sid")).alias("m"))
                           .select("id", F.col("m.sid").alias("dup_of"),
                                   F.col("m.dist").alias("dist")))
            new = fv.join(stored_dups.select("id"), "id", "left_anti")
        else:
            stored_dups = in_dups.limit(0)
            new = fv
        new = new.localCheckpoint(eager=True)
        expected = {r.kb for r in
                    new.select("kb").distinct().collect()}
        if expected and expected <= set(done):
            return  # replay of a fully-written batch: skip
        alerts = (in_dups.unionByName(stored_dups)
                  .localCheckpoint(eager=True))
        _write_batch_partition(alerts, alerts_dir, batch_id)
        _store_append(new, out_dir, done, batch_id, auto_compact_files)

    return _start(names, write_batch, checkpoint_dir, available_now)


def decontam_stream(docs: DataFrame, eval_df: DataFrame,
                    alerts_dir: str, checkpoint_dir: str,
                    id_col: str = "doc_id", text_col: str = "text",
                    n: int = 13, n_bits: int = 1 << 23,
                    n_hashes: int = 4, available_now: bool = False):
    """Streaming train/eval DECONTAMINATION monitor: every arriving
    document is checked for word ``n``-gram overlap against a STATIC
    benchmark/eval set at arrival time, and contaminated docs land as
    alert rows ``(doc_id, n_shared_shingles)`` under
    ``alerts_dir/batch=<id>`` — the ingestion-time form of
    ``text.contamination``/``bloom_contamination`` ("never let a
    benchmark-overlapping document into the training corpus unflagged"
    instead of a corpus-wide sweep after the fact).

    The eval side is fixed for the stream's life, so its two derived
    frames are built ONCE at wiring time and eagerly checkpointed:
    the distinct eval shingle frame (the exact-verify side) and its
    :func:`operators.text.bloom_bitmask` (config-bounded —
    ``n_bits``/64 rows ≈ 1 MiB at 2^23 — so re-broadcasting it each
    trigger is constant work).  Per trigger the batch's shingle
    stream runs :func:`operators.text.bloom_probe`: ``n_hashes``
    map-side BROADCAST joins, then the exact verify join over bloom
    survivors only — cost O(batch shingles) map-side + a
    candidate-proportional shuffle, independent of how much has ever
    streamed.  Alerts carry exact shared-shingle counts (every Bloom
    false positive dies in the verify join); per-batch alert sets are
    pinned equal to batch ``bloom_contamination`` of the same rows by
    pytest.

    Replay contract: this monitor is STATELESS across batches — no
    store grows, nothing is probed against prior batches — so the
    r14 partial-append class (``_store_read``) structurally cannot
    arise; the only write is the batch's own ``batch=<id>`` alert
    partition, mode("overwrite") into its own directory, so a
    crash-replayed batch rewrites the identical rows idempotently
    (the fuzzy/media alert-partition convention).  A changed eval
    set requires a NEW stream (new checkpoint + alerts dir): alerts
    already written reflect the eval set they were checked against.
    """
    from ..operators.dedup import shingle
    from ..operators.text import bloom_bitmask, bloom_probe

    ev = (shingle(eval_df, text_col, id_col, n, spread=False)
          .select("shingle").distinct().localCheckpoint(eager=True))
    bloom = bloom_bitmask(ev, n_bits=n_bits, n_hashes=n_hashes) \
        .localCheckpoint(eager=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = (batch_df.select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("text"))
             .where(F.col("text").isNotNull()))
        alerts = (bloom_probe(shingle(b, "text", "id", n, spread=False),
                              bloom, ev, n_bits=n_bits,
                              n_hashes=n_hashes)
                  .withColumnRenamed("id", id_col))
        _write_batch_partition(alerts, alerts_dir, batch_id)

    return _start(docs, write_batch, checkpoint_dir, available_now)


def kmv_rollup_stream(updates: DataFrame, out_dir: str,
                      checkpoint_dir: str, keys: "list[str]",
                      col: str, k: int = 256,
                      available_now: bool = False):
    """Incrementally maintained per-key KMV distinct sketch: each
    micro-batch sketches its own rows (``operators.sketch.kmv_sketch``)
    and union-merges into the stored rows (``merge_kmv_rows`` — k
    smallest of the concatenation, EXACT sketch algebra), so "how many
    distinct X per key, and how much do two keys overlap" stays
    queryable (``kmv_estimate_expr`` / ``kmv_jaccard_expr``) at any
    trigger with state <= k doubles per key regardless of stream
    length.  Completes the mergeable-family rule one more time: HLL
    answers distinct-count only; KMV is the streaming face that can
    also INTERSECT.  Replay-guarded by the shared ``last_batch`` stamp
    (a re-merged batch would be a no-op for the union algebra, but the
    guard keeps the skeleton's invariant uniform)."""
    from ..operators.sketch import kmv_sketch, merge_kmv_rows

    return _guarded_small_rollup(
        updates, out_dir, checkpoint_dir,
        lambda b: kmv_sketch(b, keys, col, k),
        lambda a, b: merge_kmv_rows(a, b, keys, k),
        available_now)


def funnel_monitor_stream(events: DataFrame,
                          steps: "list[tuple[str, str]]",
                          user_col: str = "user_id",
                          ts_col: str = "ts_us",
                          within_us: "int | None" = None) -> DataFrame:
    """Streaming anchored funnel per user — the production form of
    ``operators.funnel.funnel_anchors``: state per user is its step
    anchor times (#steps longs — bounded regardless of stream length),
    updated as events arrive; each micro-batch emits one row per
    touched user with the current anchors and the furthest step
    reached, so a live conversion dashboard is one groupBy away at any
    trigger.

    Rows are applied in ``ts`` order inside each batch and batches are
    assumed event-time-ordered per user (the monitoring contract, same
    as :func:`gap_monitor` / :func:`occupancy_monitor_stream`); an
    event older than the anchor it would extend is ignored, never
    retro-applied — with in-order arrival the final anchors equal the
    batch ``funnel_anchors`` over the same rows (parity-tested).
    Step predicates are evaluated ENGINE-side (one boolean column per
    step feeds the Python state function — the stateful stage sees only
    (user, ts, flags), never raw payloads)."""
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    n_steps = len(steps)
    if n_steps < 1:
        raise ValueError("funnel needs at least one step")
    flags = [F.expr(pred).cast("boolean").alias(f"_m{i}")
             for i, (_, pred) in enumerate(steps)]
    sel = events.select(
        F.col(user_col).cast("long").alias("_u"),
        F.col(ts_col).cast("long").alias("_ts"), *flags)

    anchor_cols = ", ".join(
        f"t_{name} bigint" for name, _ in steps)
    out_schema = (f"{user_col} bigint, {anchor_cols}, "
                  "furthest_step int")
    state_schema = "anchors array<long>"
    w = int(within_us) if within_us is not None else None

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        anchors = list(state.get[0]) if state.exists \
            else [-1] * n_steps          # -1 encodes NULL in state
        rows = [pdf for pdf in pdfs]
        if not rows:
            return
        batch = pd.concat(rows).sort_values("_ts")
        mcols = [batch[f"_m{i}"] for i in range(n_steps)]
        for ridx, ts in enumerate(batch["_ts"]):
            ts = int(ts)
            for i in range(n_steps):
                if anchors[i] >= 0 or not bool(mcols[i].iloc[ridx]):
                    continue
                if i == 0:
                    anchors[0] = ts
                    break
                prev = anchors[i - 1]
                if prev >= 0 and ts > prev and (
                        w is None or ts <= prev + w):
                    anchors[i] = ts
                break  # an event advances at most one step
        state.update((anchors,))
        furthest = 0
        for a in anchors:
            if a < 0:
                break
            furthest += 1
        yield pd.DataFrame(
            [(key[0], *[a if a >= 0 else None for a in anchors],
              furthest)],
            columns=[user_col, *[f"t_{n}" for n, _ in steps],
                     "furthest_step"])

    return sel.withColumnRenamed("_u", user_col) \
        .groupBy(user_col).applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)


def colocation_monitor_stream(points: DataFrame, out_dir: str,
                              checkpoint_dir: str, alerts_dir: str,
                              radius: float,
                              id_col: str = "id", x_col: str = "x",
                              y_col: str = "y", n_buckets: int = 16,
                              auto_compact_files: "int | None" = 64,
                              available_now: bool = False):
    """Streaming spatial co-location monitor — the geometric face of
    ``media_dedup_stream``/``fuzzy_dedup_stream``: each micro-batch of
    points is radius-checked against BOTH itself (the batch grid join,
    ``operators.spatial.grid_distance_join``) and a persistent
    cell-bucketed point store, alerting every pair within ``radius``
    under ``alerts_dir/batch=<id>`` — geofence hits, sensor
    co-location, POI dedup at landing time.

    The store holds one row per point keyed by its grid cell (cell =
    radius, so probes explode a batch point over its 3×3 neighborhood
    and equi-join — the lossless q161 candidate shape) and is
    PARTITIONED by ``pmod(hash(cx, cy), n_buckets)``: a probe reads
    only the buckets its neighborhoods touch, never the corpus.
    Unlike the dedup monitors every point joins the store (proximity
    is not identity — later arrivals must pair against ALL earlier
    points); replay safety is the standard batch_id stamp + atomic
    per-batch alert partitions.  Cost per trigger: O(batch × 9 +
    touched-bucket points).

    ``auto_compact_files`` (r13 verdict #5): per-trigger file-count
    probe of every ``kb=`` bucket; past the threshold
    :func:`compact_candidate_store` runs in-slot and stamps the
    geometry manifest (None = manual cadence).
    """
    cell = float(radius)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.spatial import grid_distance_join
        # stored cx/cy/kb bake in (radius, n_buckets): a re-attach with
        # either changed would probe the wrong cells/buckets and
        # silently miss pairs (the semdedup geometry contract)
        _store_geometry_guard(out_dir, {
            "kind": "colocation", "cell": float(cell),
            "n_buckets": int(n_buckets)})
        spark = batch_df.sparkSession
        b = (batch_df.select(F.col(id_col).alias("id"),
                             F.col(x_col).cast("double").alias("x"),
                             F.col(y_col).cast("double").alias("y"))
             .withColumn("cx", F.floor(F.col("x") / cell))
             .withColumn("cy", F.floor(F.col("y") / cell))
             .withColumn("kb", F.pmod(F.hash("cx", "cy"), n_buckets))
             .localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        in_batch = (grid_distance_join(
            b.select("id", "x", "y"), cell)
            .select("id1", "id2", "dist"))
        # probe: batch neighborhoods vs stored home cells, touched
        # buckets only (the 3x3 neighborhood's buckets, not just the
        # home cells')
        nb = (b.withColumn("__o", F.explode(F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)])))
              .select("id", "x", "y",
                      (F.col("cx") + F.col("__o.dx")).alias("jx"),
                      (F.col("cy") + F.col("__o.dy")).alias("jy"))
              .withColumn("kb", F.pmod(F.hash("jx", "jy"), n_buckets))
              .localCheckpoint(eager=True))
        touched = [r.kb for r in nb.select("kb").distinct().collect()]
        # partial-append replay contract (r15, the r14 ADVICE class):
        # the probe pairs against PRIOR batches only, and the skip
        # requires every home bucket this batch writes
        prior, done = _store_read(spark, out_dir, touched, batch_id)
        expected = {r.kb for r in b.select("kb").distinct().collect()}
        if expected and expected <= set(done):
            return  # replay of a fully-written batch: skip
        if prior is not None:
            dxc = F.col("x") - F.col("sx")
            dyc = F.col("y") - F.col("sy")
            d2 = dxc * dxc + dyc * dyc
            vs_store = (nb.join(
                prior.select(F.col("id").alias("sid"),
                             F.col("x").alias("sx"),
                             F.col("y").alias("sy"),
                             F.col("cx").alias("jx"),
                             F.col("cy").alias("jy")),
                ["jx", "jy"])
                .where(d2 <= F.lit(cell * cell))
                .select(F.col("id").alias("id1"),
                        F.col("sid").alias("id2"),
                        F.sqrt(d2).alias("dist")))
        else:
            vs_store = in_batch.limit(0)
        alerts = in_batch.unionByName(vs_store) \
                         .localCheckpoint(eager=True)
        _write_batch_partition(alerts, alerts_dir, batch_id)
        _store_append(b, out_dir, done, batch_id, auto_compact_files)

    return _start(points, write_batch, checkpoint_dir, available_now)


def _store_read(spark, out_dir: str, touched, batch_id: int):
    """Read an append-mode monitor's ``touched`` ``kb`` buckets (frozen
    with an eager ``localCheckpoint``) and split them into ``(prior,
    done_kb)`` — the r14-ADVICE partial-append replay contract shared
    by media/fuzzy/colocation/semdedup/triangles (``(None, [])`` when
    the store has no data yet):

    - ``prior``: rows of every batch EXCEPT this one — the frame
      alerts/probes must use, because a replay of a partially
      committed append would otherwise pair the batch against its own
      earlier-attempt rows (self-alerts / double counts);
    - ``done_kb``: buckets already carrying this batch's stamp.  The
      per-trigger append writes ONE file per bucket (repartition on
      the partition key) and a parquet file lands via a single
      rename, so a stamped bucket is complete — the replay appends
      only the missing buckets and may skip entirely only when every
      bucket it WOULD write is stamped (an any-row skip cements a
      mid-commit crash: some partitions promoted, others lost
      forever)."""
    store = _read_parquet_or_none(spark, out_dir)
    if store is None:
        return None, []
    store = (store.where(F.col("kb").isin(touched))
             .localCheckpoint(eager=True))
    done = [r.kb for r in
            store.where(F.col("batch_id") == F.lit(int(batch_id)))
            .select("kb").distinct().collect()]
    prior = (store.where(F.col("batch_id") != F.lit(int(batch_id)))
             if done else store)
    return prior, done


def _store_append(rows: DataFrame, out_dir: str, done, batch_id: int,
                  max_files: "int | None") -> None:
    """Append ``rows`` (carrying ``kb``) to an append-mode store: skip
    the ``done`` buckets (:func:`_store_read`), stamp ``batch_id``, and
    write one file per bucket — repartitioning on the partition key
    keeps a trigger from fanning out shuffle partitions x buckets tiny
    files (r13 litter fix).  Then the auto-compaction cadence (r13
    verdict #5) probes every ``kb=`` leaf (<= n_buckets listings per
    trigger); foreachBatch serializes triggers, so an in-slot swap
    cannot race this stream's next read."""
    (rows.where(~F.col("kb").isin(done))
     .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
     .repartition("kb")
     .write.mode("append").partitionBy("kb").parquet(out_dir))
    _auto_compact_store(
        rows.sparkSession, out_dir,
        [d for d in os.listdir(out_dir) if d.startswith("kb=")],
        batch_id, max_files)


def _bucket_geometry_guard(spark, out_dir: str, kind: str,
                           keys: "list[str]", n_buckets: int) -> None:
    """The geometry guard of a store partitioned by ``kb = pmod(hash(keys),
    n_buckets)`` (every :func:`_bucketed_snapshot` store: upsert, and so
    capture_summary and index, sketch and quantile). A store that holds
    data but no manifest — written before these stores recorded one; an
    upsert store's old ``_upsert_meta`` sidecar is not read — is stamped
    only after a one-time O(store) check that every stored row's ``kb``
    is the one ``n_buckets`` gives; otherwise it raises, since keys in
    buckets the new hash never reads would get a second row."""
    def verify():
        store = _read_parquet_or_none(spark, out_dir)
        if store is not None and not store.where(
                F.col("kb") != F.pmod(F.hash(*keys), n_buckets)).isEmpty():
            raise ValueError(
                f"{kind} store geometry mismatch: stored kb values were "
                f"not bucketed with n_buckets={n_buckets} — use a NEW "
                "store dir to change geometry")

    _store_geometry_guard(out_dir, {"kind": kind,
                                    "n_buckets": int(n_buckets)}, verify)


def _store_geometry_guard(store_dir: str, meta: dict,
                          verify=None) -> None:
    """Persist/validate the key geometry a candidate store was built
    with.  Store-backed monitors bake parameters into their STORED
    keys — grid cell size / coordinate count / bucket partitioning
    (semdedup, colocation), deletion-variant depth (fuzzy), the bucket
    count of the key-bucketed snapshots (upsert and the
    capture_summary and index stores built on it, sketch, quantile;
    through :func:`_bucket_geometry_guard`) — so re-attaching with ANY
    of them changed makes the probe join the wrong keys and silently
    MISS pairs (or keep a second row per key) forever.  The manifest
    is the one layout record of every such store.  The first writer
    drops ``_store_geometry.json`` in the store dir (underscore
    prefix: invisible to the parquet reader); every later attach
    validates and RAISES on mismatch — changing geometry means a NEW
    store dir (for semdedup, via :func:`semdedup_store_reproject`).
    Local-fs file IO, like the reproject existing-target check.

    The stamp is written to a temp file and ``os.replace``d into place
    (r12 ADVICE: a driver crash mid-``json.dump`` used to leave a
    truncated manifest that failed every later attach with an opaque
    ``JSONDecodeError``); a manifest that still fails to parse raises
    a clear corrupt-manifest error naming the recovery (delete it to
    re-stamp).  First-attach races (two monitors stamping an empty
    store concurrently) resolve through the atomic replace: both
    writers re-validate against whichever stamp won, so two identical
    geometries coexist quietly and a conflicting pair raises on the
    loser's re-read instead of silently interleaving.

    ``verify``, when given, runs before a first stamp and raises if the
    store's existing rows contradict ``meta``."""
    path = os.path.join(store_dir, "_store_geometry.json")

    def _load():
        try:
            with open(path) as fh:
                return json.load(fh)
        except ValueError as e:
            raise ValueError(
                f"corrupt store-geometry manifest at {path!r} "
                f"({e}) — likely a crash mid-stamp; delete the file "
                "to let the next attach re-stamp it") from e

    def _check(prior):
        # compare on the CONFIGURED keys only: operational stamps the
        # manifest accumulates (last_compacted_batch, n_compactions —
        # see _stamp_compaction) are not geometry and must not fail a
        # re-attach; a geometry key the store predates still mismatches
        # (prior.get -> None != value)
        if {k: prior.get(k) for k in meta} != meta:
            raise ValueError(
                f"{meta.get('kind', 'store')} store geometry "
                f"mismatch: store was built with {prior}, monitor "
                f"configured with {meta} — stored keys would silently "
                "miss pairs; use a NEW store dir to change geometry")

    if os.path.exists(path):
        _check(_load())
        return
    if verify is not None:
        verify()
    os.makedirs(store_dir, exist_ok=True)
    _write_json_atomic(path, meta)
    # re-read after the replace: if a concurrent first-attach won the
    # race with a DIFFERENT geometry, fail here rather than run two
    # monitors with incompatible stored keys
    _check(_load())


def _stamp_compaction(store_dir: str, batch_id: "int | None") -> None:
    """Record the last auto-compaction in the geometry manifest —
    operational keys (``last_compacted_batch``, ``n_compactions``);
    the attach guard compares geometry keys only, so stamping never
    fails a later attach.  Same temp+``os.replace`` discipline as the
    guard's first stamp."""
    path = os.path.join(store_dir, "_store_geometry.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        meta = json.load(fh)
    meta["n_compactions"] = int(meta.get("n_compactions", 0)) + 1
    if batch_id is not None:
        meta["last_compacted_batch"] = int(batch_id)
    _write_json_atomic(path, meta)


def _write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through a temp file in the same
    dir and ``os.replace`` — a crash mid-dump never leaves a truncated
    manifest behind."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path),
                               prefix="_geom_", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _auto_compact_store(spark, store_dir: str, leaves, batch_id: int,
                        max_files: "int | None") -> bool:
    """Per-trigger compaction cadence (r13 verdict #5 — the manual
    :func:`compact_candidate_store` call the store-backed monitors
    used to rely on, now automatic): list the ``leaves`` the caller
    passes — every ``kb=`` bucket for the append-mode stores
    (:func:`_store_append`; <= n_buckets listings per trigger, never a
    recursive store walk), the touched snapshot buckets plus the
    directory/merge-log partitions for
    :func:`components_stream_bucketed`, the one ``kb=0`` leaf of the
    LPA edge log — and, when any holds more than ``max_files`` parquet
    files, run the compactor in-slot.
    foreachBatch serializes triggers, so the swap cannot race this
    stream's own next read — the "run it stream-idle" rule the manual
    call needs is satisfied by construction; EXTERNAL concurrent
    readers keep the compact_warehouse caveat.  Stamps the geometry
    manifest (:func:`_stamp_compaction`) so cadence is auditable.
    Returns True when a compaction ran."""
    if max_files is None:
        return False
    for rel in leaves:
        leaf = os.path.join(store_dir, rel)
        try:
            n = sum(1 for f in os.listdir(leaf)
                    if f.endswith(".parquet"))
        except FileNotFoundError:
            continue
        if n > int(max_files):
            compact_candidate_store(spark, store_dir)
            _stamp_compaction(store_dir, batch_id)
            return True
    return False


def _semdedup_model(mean, components, threshold: float):
    """Validate + normalize a streaming-semdedup projection model.

    Shared by :func:`semdedup_stream` and
    :func:`semdedup_store_reproject` so the grid geometry (cell size,
    key column names, dimension bound) can never drift between the
    monitor and the migration job — a store written by one must
    equi-join cells computed by the other."""
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    k = comps.shape[0]
    if not 1 <= k <= 6:
        raise ValueError("semdedup_stream supports 1-6 projected "
                         f"dimensions (3^k explode); got {k}")
    if not threshold < 1:
        raise ValueError("semdedup_stream needs threshold < 1")
    eps = float(np.sqrt(max(0.0, 2.0 - 2.0 * threshold)))
    cell = eps * (1.0 + 1e-6) + 1e-9   # the semdedup_exact pad
    qs = [f"q{i}" for i in range(k)]
    cs = [f"c{i}" for i in range(k)]
    return mu, comps, k, cell, qs, cs


def _null_projection_diagnose(df: DataFrame, qs: "list[str]",
                              model_width: int, ctx: str) -> None:
    """Raise a PRECISE error for NULL projected grid coordinates.

    A NULL coordinate means the projection's ``zip_with`` padded — but
    two distinct input defects produce it (r12 ADVICE): a model whose
    component width mismatches the embedding dimensionality (every row
    fails), or a NULL ELEMENT inside one vector (that row alone fails).
    Blaming both on "component width" sent operators debugging the
    model when one poisoned row was the cause.  Probes ONE offending
    row (``df`` is already materialized at both call sites, so this is
    a cheap filtered scan), compares its observed ``F.size`` against
    the model width, checks for null elements, and names the id."""
    bad = (df.where(reduce(or_, [F.col(q).isNull() for q in qs]))
           .select(F.col("id").alias("__bid"),
                   F.size("__u").alias("__w"),
                   F.exists("__u", lambda x: x.isNull())
                   .alias("__has_null"))
           .limit(1).collect())
    if not bad:
        return
    r = bad[0]
    if r["__has_null"]:
        raise ValueError(
            f"{ctx}: embedding id={r['__bid']!r} contains a NULL "
            "element — its projection is NULL and its grid cell would "
            "never equi-join; drop or repair the row upstream")
    raise ValueError(
        f"{ctx}: NULL projected coordinate for id={r['__bid']!r} — "
        f"the model's component width ({model_width}) does not match "
        f"the embedding dimensionality ({r['__w']})")


def semdedup_stream(embeddings: DataFrame, out_dir: str,
                    checkpoint_dir: str, alerts_dir: str,
                    mean, components, threshold: float = 0.95,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_buckets: int = 16,
                    auto_compact_files: "int | None" = 64,
                    available_now: bool = False):
    """Streaming SEMANTIC near-dup monitor — the semantic tier of the
    dedup story's streaming face (round-11 verdict stretch #8), i.e.
    ``colocation_monitor_stream``'s pattern lifted to k projected
    dimensions with an EXACT full-width cosine verify: each micro-batch
    of embeddings is (1) L2-normalized (zero-norm vectors excluded, the
    ``semdedup_exact`` contract), (2) projected onto a FIXED orthonormal
    model ``(mean, components)`` in double precision, (3) radius-checked
    against both itself and a persistent cell-bucketed point store via
    the 3^k-neighborhood cell equi-join, and (4) every candidate is
    verified with the exact double cosine over the FULL-width unit
    vectors — alerts ``(id1, id2, cos_sim)`` land under
    ``alerts_dir/batch=<id>`` and feed :func:`components_stream` for a
    maintained "which vectors are one semantic group" snapshot.

    EXACT regardless of model quality: projection onto ANY fixed
    orthonormal basis is non-expansive (centering is an isometry on
    differences), so for unit vectors ``cos >= t  =>  projected
    distance <= sqrt(2-2t)`` holds whether the model is this corpus's
    PCA, last month's, or raw coordinate axes — a stale model only
    DENSIFIES candidates (more verify work), never loses a pair.  Fit
    the model from :func:`pca_moments_stream`'s maintained moments
    (``similarity.pca_from_moments``); refreshing it requires a NEW
    store directory (stored cell keys are coordinates under the old
    projection and cannot equi-join coordinates under a new one) — the
    reprojection job is one scan of the vectors, and until it runs the
    old store stays exact, just less selective.

    Store: one row per vector keyed by its k-dim grid cell, partitioned
    by ``pmod(hash(cells), n_buckets)`` so a probe reads only the
    buckets its neighborhoods touch; ids are append-only (re-sending an
    id pairs it against its earlier self — upsert streams belong in
    ``upsert_stream`` first).  Replay safety: ``batch_id`` stamp +
    atomic per-batch alert partitions, the colocation contract.  Cost
    per trigger: O(batch x 3^k + touched-bucket points), verify work
    proportional to candidates (SCALE.md section 24's measured curve).

    ``auto_compact_files`` (r13 verdict #5): per-trigger file-count
    probe of every ``kb=`` bucket; past the threshold
    :func:`compact_candidate_store` runs in-slot and stamps the
    geometry manifest (None = manual cadence).
    """
    mu, comps, k, cell, qs, cs = _semdedup_model(mean, components,
                                                 threshold)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import pca_project
        from ..operators.spatial import grid_distance_join_nd
        # BEFORE any alert is computed: stored cell/bucket keys bake in
        # (k, cell, n_buckets, model width); attaching with any of them
        # changed would silently MISS pairs forever
        _store_geometry_guard(out_dir, {
            "kind": "semdedup", "k": int(k), "cell": float(cell),
            "n_buckets": int(n_buckets),
            "model_width": int(comps.shape[1])})
        spark = batch_df.sparkSession
        nrm = F.sqrt(F.aggregate(
            F.col(vec_col), F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double")))
        unit = (batch_df
                .select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("__v"), nrm.alias("__n"))
                .where(F.col("__n") > 0)
                .select("id", F.transform(
                    "__v", lambda x: x.cast("double")
                    / F.col("__n")).alias("__u")))
        proj = pca_project(unit, mu, comps, col="__u", out="__p",
                           out_dtype="double")
        b = (proj.select(
                "id", "__u",
                *[F.col("__p")[i].alias(q) for i, q in enumerate(qs)])
             .select("*", *[F.floor(F.col(q) / cell).alias(c)
                            for q, c in zip(qs, cs)])
             .withColumn("kb", F.pmod(F.hash(*cs), n_buckets))
             .localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        # A model whose component width mismatches the embedding dim
        # (or a NULL element inside one vector) makes zip_with pad
        # with NULLs -> NULL grid cells that never equi-join -> the
        # monitor would silently never alert again (the semdedup_exact
        # r11 ADVICE class).  b is already materialized, so the guard
        # scan is cheap; the helper names the offending id and which
        # of the two defects it is (r12 ADVICE).
        _null_projection_diagnose(b, qs, comps.shape[1],
                                  "semdedup_stream")
        cos = F.aggregate(
            F.zip_with("__u1", "__u2", lambda a, x: a * x),
            F.lit(0.0), lambda a, x: a + x)
        u1 = b.select(F.col("id").alias("id1"), F.col("__u").alias("__u1"))
        u2 = b.select(F.col("id").alias("id2"), F.col("__u").alias("__u2"))
        in_batch = (grid_distance_join_nd(
            b.select("id", *qs), cell, id_col="id",
            coord_cols=tuple(qs))
            .join(u1, "id1").join(u2, "id2")
            .where(cos >= F.lit(float(threshold)))
            .select("id1", "id2", cos.alias("cos_sim")))
        # probe: batch 3^k neighborhoods vs stored home cells, touched
        # buckets only
        from itertools import product as _product
        offsets = F.array(*[
            F.struct(*[F.lit(o[i]).alias(f"o{i}") for i in range(k)])
            for o in _product((-1, 0, 1), repeat=k)])
        nb = (b.withColumn("__o", F.explode(offsets))
              .select("id", "__u",
                      *[(F.col(c) + F.col(f"__o.o{i}")).alias(f"j{i}")
                        for i, c in enumerate(cs)])
              .withColumn("kb", F.pmod(
                  F.hash(*[f"j{i}" for i in range(k)]), n_buckets))
              .localCheckpoint(eager=True))
        touched = [r.kb for r in nb.select("kb").distinct().collect()]
        # partial-append replay contract (r15, the r14 ADVICE class):
        # probe against PRIOR batches only, skip only on the full
        # home-bucket stamp set, re-append just the missing buckets
        prior, done = _store_read(spark, out_dir, touched, batch_id)
        expected = {r.kb for r in b.select("kb").distinct().collect()}
        if expected and expected <= set(done):
            return  # replay of a fully-written batch: skip
        if prior is not None:
            vs_store = (nb.join(
                prior.select(F.col("id").alias("id2"),
                             F.col("__u").alias("__u2"),
                             *[F.col(c).alias(f"j{i}")
                               for i, c in enumerate(cs)]),
                [f"j{i}" for i in range(k)])
                .select(F.col("id").alias("id1"), "id2",
                        F.col("__u").alias("__u1"), "__u2")
                .where(cos >= F.lit(float(threshold)))
                .select("id1", "id2", cos.alias("cos_sim")))
        else:
            vs_store = in_batch.limit(0)
        alerts = in_batch.unionByName(vs_store) \
                         .localCheckpoint(eager=True)
        _write_batch_partition(alerts, alerts_dir, batch_id)
        _store_append(b, out_dir, done, batch_id, auto_compact_files)

    return _start(embeddings, write_batch, checkpoint_dir, available_now)


def semdedup_store_reproject(spark: SparkSession, store_dir: str,
                             new_store_dir: str, mean, components,
                             threshold: float = 0.95,
                             n_buckets: int = 16,
                             rebase_batch_ids: bool = False) -> int:
    """Model-refresh migration for a :func:`semdedup_stream` store —
    the "one reprojection scan" the monitor's docstring promises: read
    every stored vector's FULL-WIDTH unit vector ``__u`` (which is why
    the store keeps it), recompute the k-dim projection / grid cells /
    bucket key under the NEW ``(mean, components)``, and write a fresh
    store directory.  One scan, one write, no history re-pairing —
    past alerts remain valid because exactness never depended on the
    model (any fixed orthonormal projection is non-expansive); the
    refresh only buys back candidate SELECTIVITY (SCALE.md §25).

    Refuses an existing ``new_store_dir``: cells under two different
    projections never equi-join, so an in-place or mixed-model store
    would silently lose candidate pairs — the directory boundary makes
    that correctness bug structurally impossible (local-fs check;
    object-store deployments enforce the same rule with a fresh key
    prefix per model version).

    ``batch_id`` stamps are preserved verbatim so the migrated monitor
    CONTINUES FROM THE SAME CHECKPOINT (stop the stream, reproject,
    restart with ``out_dir=new_store_dir`` and the new model): batch
    numbering resumes past the stamped history and the crash-replay
    guard keeps working unchanged.  Only when the new store starts a
    brand-new checkpoint lineage over new-data-only sources should
    ``rebase_batch_ids=True`` stamp history as ``-1`` — otherwise the
    fresh lineage's batch 0 would collide with stamped batch 0 and the
    replay guard would silently drop the first real batch.

    Returns the number of vectors migrated."""
    if os.path.exists(new_store_dir):
        raise ValueError(
            f"semdedup_store_reproject refuses existing target "
            f"{new_store_dir!r}: a reprojected store must be a NEW "
            "directory (mixed-model cell keys never equi-join)")
    mu, comps, k, cell, qs, cs = _semdedup_model(mean, components,
                                                 threshold)
    from ..operators.similarity import pca_project
    old = spark.read.parquet(store_dir).select("id", "__u", "batch_id")
    proj = pca_project(old, mu, comps, col="__u", out="__p",
                       out_dtype="double")
    bid = (F.lit(-1).cast("long") if rebase_batch_ids
           else F.col("batch_id"))
    out = (proj.select(
               "id", "__u",
               *[F.col("__p")[i].alias(q) for i, q in enumerate(qs)],
               bid.alias("batch_id"))
           .select("*", *[F.floor(F.col(q) / cell).alias(c)
                          for q, c in zip(qs, cs)])
           .withColumn("kb", F.pmod(F.hash(*cs), n_buckets))
           .localCheckpoint(eager=True))  # one scan: guard + write
    # same NULL-coordinate guard as the monitor: a component width
    # that mismatches the stored vectors (or a NULL element inside a
    # stored vector) would write a store that never equi-joins
    # anything — fail the migration loudly, naming the defect
    _null_projection_diagnose(out, qs, comps.shape[1],
                              "semdedup_store_reproject")
    out.write.partitionBy("kb").parquet(new_store_dir)
    _store_geometry_guard(new_store_dir, {
        "kind": "semdedup", "k": int(k), "cell": float(cell),
        "n_buckets": int(n_buckets),
        "model_width": int(comps.shape[1])})
    return spark.read.parquet(new_store_dir).count()


def fd_profile_stream(updates: DataFrame, out_dir: str,
                      checkpoint_dir: str,
                      candidates: "list[tuple[str, str]]",
                      available_now: bool = False):
    """Incrementally maintained functional-dependency profile — the
    streaming face of ``functions.fd_profile`` (the data-quality guard
    that notices a near-FD DEGRADING as data lands, e.g. a source
    starts emitting contradictory status values per order).  Each
    micro-batch melts its rows into per-candidate value-pair counts
    (``functions.fd_counts`` — one scan, map-side combinable) and
    count-sums into the stored table; the g3 error report is one
    ``fd_errors_from_counts(spark.read.parquet(out_dir))`` away at any
    trigger.

    State = distinct (lhs value, rhs value) pairs per candidate:
    profile BOUNDED-DOMAIN columns (status, priority, category, date
    buckets) — a key-like lhs would grow state O(rows), and that FD is
    better enforced row-wise at landing (q112-style constraint audit).
    Count merge is exact and NULL values are ordinary groups (union +
    re-aggregate, never a NULL-dropping equi-join), so the snapshot is
    row-identical to ``fd_counts`` over everything that ever streamed;
    crash replays are skipped by the ``last_batch`` stamp."""
    from ..functions import fd_counts

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (a.unionByName(b)
                .groupBy("lhs", "rhs", "lv", "rv")
                .agg(F.sum("c").cast("bigint").alias("c")))

    return _guarded_small_rollup(
        updates, out_dir, checkpoint_dir,
        lambda b: fd_counts(b, candidates), merge, available_now)


def skew_profile_stream(updates: DataFrame, out_dir: str,
                        checkpoint_dir: str,
                        key_cols: "list[str | tuple[str, ...]]",
                        available_now: bool = False):
    """Incrementally maintained join/agg-key skew profile — the
    streaming face of ``quality.skew_survey`` (the shuffle-strategy
    diagnostics a 100 TB pipeline wants CURRENT as data lands, not
    re-scanned nightly): each micro-batch runs the one-scan
    GROUPING-SETS count pass over ITS OWN rows
    (``quality.skew_counts`` — map-side combinable) and count-sums
    into the stored ``(key_col, key_val, cnt)`` table; the full
    stats/hints report is one
    ``skew_report(spark.read.parquet(out_dir).drop("last_batch"))``
    away at any trigger, row-identical to a from-scratch
    ``skew_survey`` over everything that ever streamed
    (parity-pinned by pytest).

    State = distinct key values per candidate entry — the
    ``fd_profile_stream`` bounded-domain contract: profile keys whose
    domains are bounded or slow-growing (status/category/date-bucket
    columns, moderate-cardinality join keys).  A billions-of-distinct
    key belongs in the batch survey's ``exact=False`` path, not in a
    maintained snapshot.  Count merge is exact and NULL key values
    stay their own counted group (the canonical 0x00-token encoding —
    never a NULL-dropping join); crash replays are skipped by the
    ``last_batch`` stamp."""
    from ..operators.quality import _skew_entries, skew_counts

    _skew_entries(key_cols)   # validate once at wiring time

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (a.unionByName(b)
                .groupBy("key_col", "key_val")
                .agg(F.sum("cnt").cast("bigint").alias("cnt")))

    return _guarded_small_rollup(
        updates, out_dir, checkpoint_dir,
        lambda b: skew_counts(b, key_cols), merge, available_now)


def components_stream(pairs: DataFrame, out_dir: str,
                      checkpoint_dir: str,
                      d1: str = "d1", d2: str = "d2",
                      crossover_bytes: "int | None" = 32 << 20,
                      available_now: bool = False):
    """Incrementally maintained connected components — the streaming
    face of the dedup CLUSTER state (``graph.star_components`` /
    ``dedup.dup_clusters``): as near-dup pairs land (from any of the
    candidate monitors), the stored ``(node, cluster)`` partition is
    union-merged with the batch's edges, so "which documents are one
    duplicate group" is queryable at any trigger without re-clustering
    history.

    Merge correctness: a ``(node, cluster)`` row IS an edge connecting
    the node to its component representative, so running
    ``star_components`` over (stored rows ∪ batch pairs) yields exactly
    the components of everything ever streamed — cluster ids stay the
    component MIN, so ids are stable once assigned unless a batch
    BRIDGES two clusters (the smaller min wins; downstream consumers
    must treat cluster ids as representative, not immutable — the same
    contract as batch re-clustering).

    Unlike the sketch rollups this merge IS replay-idempotent (re-
    unioning the same edges changes nothing), but the ``last_batch``
    stamp is kept anyway: it makes replays cheap (skip, not recompute)
    and keeps the face uniform with the other maintained snapshots.
    State = one row per node ever seen; each trigger rewrites the
    snapshot (O(state) — the media_dedup store contract), which is the
    right trade only while the node universe stays small.  For
    unbounded universes use :func:`components_stream_bucketed` — the
    same merge contract with per-trigger cost bounded by the touched
    buckets (r12 verdict #3).

    Crossover guard (r13 verdict stretch #9): SCALE.md §29 measured
    the whole-rewrite face going linear-per-trigger past a few
    hundred k state rows while the bucketed face stays flat, so
    ATTACHING this face to an existing store larger than
    ``crossover_bytes`` (default 32 MiB of snapshot parquet — a
    size-probe of the store dir, no Spark job) RAISES and names the
    bucketed face.  ``crossover_bytes=None`` disables the probe for
    callers who accept O(state) triggers knowingly.  The probe runs
    at attach only — a store that GROWS past the line mid-stream
    keeps running (killing a live monitor is worse than a slow
    trigger) and trips the guard at its next restart."""
    from ..operators.graph import star_components

    if crossover_bytes is not None and os.path.isdir(out_dir):
        nbytes = sum(
            os.path.getsize(os.path.join(out_dir, f))
            for f in os.listdir(out_dir) if f.endswith(".parquet"))
        if nbytes > int(crossover_bytes):
            raise ValueError(
                f"components_stream: existing snapshot at {out_dir!r} "
                f"holds {nbytes} bytes of state, past the "
                f"{int(crossover_bytes)}-byte whole-rewrite crossover "
                "(SCALE.md §29: per-trigger cost is O(state) on this "
                "face and goes linear past a few hundred k rows) — "
                "use components_stream_bucketed for unbounded node "
                "universes, or pass crossover_bytes=None to accept "
                "O(state) triggers")

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        # both sides are (node, cluster) partitions (the batch side was
        # already clustered by batch_state) — their union, read as an
        # edge list, connects exactly the blocks that share any node
        e = (a.unionByName(b)
             .select(F.col("node").alias("d1"),
                     F.col("cluster").alias("d2")))
        return star_components(e, "d1", "d2")

    return _guarded_small_rollup(
        pairs, out_dir, checkpoint_dir,
        lambda batch: star_components(batch, d1, d2),
        merge, available_now)


def components_stream_bucketed(pairs: DataFrame, out_dir: str,
                               checkpoint_dir: str,
                               d1: str = "d1", d2: str = "d2",
                               n_buckets: int = 64,
                               auto_compact_files: "int | None" = 64,
                               available_now: bool = False):
    """Incrementally maintained connected components for UNBOUNDED node
    universes — the 100 TB form :func:`components_stream`'s docstring
    defers to (that face rewrites the whole (node, cluster) snapshot
    every trigger; r12 verdict #3 delivers the bucketed incremental
    one).  The snapshot is partitioned by ``kb = pmod(hash(node),
    n_buckets)`` and each trigger rewrites ONLY the buckets the batch
    touches plus the buckets bridged through them, so per-trigger cost
    tracks the touched component set, not total state.

    Mechanics per trigger:

    1. cluster the batch alone (``star_components`` — its size-gated
       driver kernel makes small batches milliseconds);
    2. read the store buckets holding the batch's nodes (partition
       pruning on ``kb``) and collect the AFFECTED cluster ids — the
       store components any batch node belongs to;
    3. resolve which buckets hold members of those clusters through a
       cluster DIRECTORY (``out_dir/_directory``: append-only
       ``(cluster, kb)`` pairs partitioned by ``pmod(hash(cluster),
       n_buckets)`` — underscore prefix keeps it invisible to the
       snapshot reader), and read exactly those buckets too.  The
       directory is what makes bridging O(touched): a component's
       members scatter across node-hash buckets, and without the map
       a merge that lowers a cluster min would have to scan the whole
       store to find them;
    4. star-merge (affected store rows as (node, cluster-rep) edges) ∪
       (batch components) — components only ever MERGE, so rows of
       unaffected clusters are provably invariant and are rewritten
       verbatim (their buckets only re-stamp ``last_batch``);
    5. append this batch's absorption pairs ``(old, new)`` to a MERGE
       LOG (``out_dir/_merges``, partitioned by ``pmod(hash(new),
       n_buckets)``) and the new (cluster, kb) pairs to the directory
       FIRST, then dynamic-partition-overwrite the touched snapshot
       buckets.  The order is the crash contract: extra log/directory
       pairs only cost extra reads, while a snapshot that advanced
       past them would silently under-merge forever.  Stale directory
       pairs (a cluster id absorbed into a smaller one) are dead
       forever — a component's min can only decrease, so an absorbed
       id can never name a live cluster again — and are dropped by
       :func:`compact_candidate_store` (which keeps the merge log's
       rows: a crashed-then-compacted store may still need them).
       Compaction is AUTOMATIC (r13 verdict #5): after each trigger
       the just-written leaves are file-counted (bounded listing —
       touched snapshot buckets + <= n_buckets directory/log
       partitions) and the compactor runs in-slot once any exceeds
       ``auto_compact_files`` (default 64; None = manual cadence),
       stamping ``last_compacted_batch`` into the geometry manifest.
       Replay stamps survive compaction verbatim, so a crash replay
       across a compaction boundary stays a cheap skip.

    Replay safety: the multi-bucket dynamic overwrite is NOT atomic,
    and an interrupted one is more than a cheap-skip problem — if
    every batch-node bucket committed but a directory-bridged bucket
    did not, the stale bucket's rows still carry an ABSORBED cluster
    id that no surviving row mentions, so no amount of re-merging the
    batch alone could reconnect them.  The merge log closes exactly
    that hole: step 2 expands the affected-cluster set through the
    log's rows FOR THIS BATCH ONLY (``new ∈ affected → old`` joins
    the set, iterated to fixpoint) and their ``old—new`` pairs ride
    along as edges in step 4, so the stale rows semi-join back into
    the merge and are rewritten.  Rows are stamped with ``batch_id``
    precisely so expansion can age them out: Structured Streaming
    serializes batches, so only the current (possibly replayed)
    batch's absorptions can be missing from the snapshot, and one
    batch's pairs all point at final cluster ids — the fixpoint is
    depth <= 1 by construction instead of growing with the store's
    absorption history (r14 ADVICE).  Compaction drops pairs staler
    than the snapshot's newest ``last_batch`` (they describe fully
    committed batches) and re-stamps legacy NULL rows at that stamp.  The replay
    SKIP therefore requires every bucket of the FULL touched set
    (batch buckets ∪ directory-bridged buckets, after log expansion)
    to be present with ``last_batch >= batch_id`` — stamping only the
    batch-node buckets would cement the split this paragraph
    describes.  A skew-degenerate graph whose one giant component
    spans every bucket degrades to the whole-rewrite face's O(state)
    — inherent to maintaining exact components, not a design
    artifact."""
    from ..operators.graph import star_components

    dir_path = os.path.join(out_dir, "_directory")
    merges_path = os.path.join(out_dir, "_merges")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _store_geometry_guard(out_dir, {
            "kind": "components", "n_buckets": int(n_buckets)})
        bcc = (star_components(batch_df, d1, d2)
               .localCheckpoint(eager=True))
        if not bcc.limit(1).count():
            return
        nodes_b = bcc.select("node")
        t0 = sorted(r[0] for r in nodes_b
                    .select(F.pmod(F.hash("node"), n_buckets)
                            .alias("kb"))
                    .distinct().collect())
        store_t0 = _read_parquet_or_none(spark, out_dir)
        if store_t0 is not None:
            store_t0 = (store_t0.where(F.col("kb").isin(t0))
                        .localCheckpoint(eager=True))
        heal = None
        if store_t0 is not None:
            # affected clusters + the <= n_buckets directory partitions
            # that index them (bounded driver lists, the colocation
            # touched-bucket convention)
            ca = (store_t0.join(nodes_b, "node")
                  .select("cluster").distinct()
                  .localCheckpoint(eager=True))
            # expand through the merge log: a cluster id this batch's
            # interrupted write already absorbed may survive only in a
            # not-yet-overwritten bucket — its (old, new) log pair pulls
            # it back into the affected set AND supplies the old—new
            # edge the re-merge needs (docstring crash contract).
            # Only THIS batch's pairs can be unreflected: batch N runs
            # only after N-1's write_batch completed (foreachBatch
            # serializes triggers and the commit log gates the next
            # batch), so pairs stamped < batch_id describe absorptions
            # the snapshot already holds — expanding through them walks
            # the store's entire absorption history per trigger and a
            # >15-deep historical chain of decreasing cluster mins
            # falsely trips the fixpoint cap (r14 ADVICE).  Legacy rows
            # predating the batch_id stamp read as NULL (mergeSchema)
            # and stay includable — one conservative trigger, then
            # compaction re-stamps them.
            ml = _read_parquet_or_none(spark, merges_path)
            if ml is not None and "batch_id" not in ml.columns:
                ml = (spark.read.option("mergeSchema", "true")
                      .parquet(merges_path))
            if ml is not None:
                if "batch_id" in ml.columns:
                    ml = ml.where(F.col("batch_id").isNull()
                                  | (F.col("batch_id")
                                     == F.lit(int(batch_id))))
                pairs_now = (ml.select("old", "new").distinct()
                             .localCheckpoint(eager=True))
                if not pairs_now.limit(1).count():
                    pairs_now = None
            else:
                pairs_now = None
            if pairs_now is not None:
                # one batch's pairs all target FINAL cluster ids, so
                # the fixpoint is depth <= 1 by construction (one round
                # to pull in the olds, one to confirm) — the cap is a
                # genuine invariant now, not a hope about history
                for _ in range(16):
                    heal = (pairs_now
                            .join(ca.select(F.col("cluster")
                                            .alias("new")),
                                  "new", "semi")
                            .select("old", "new").distinct()
                            .localCheckpoint(eager=True))
                    add = (heal.select(F.col("old").alias("cluster"))
                           .join(ca, "cluster", "left_anti")
                           .distinct())
                    if not add.limit(1).count():
                        break
                    ca = (ca.unionByName(add)
                          .localCheckpoint(eager=True))
                else:
                    # raising beats proceeding with an under-expanded
                    # touched set, whose skip could cement a split
                    # (the shortest_paths under-convergence rule)
                    raise RuntimeError(
                        "components_stream_bucketed: merge-log "
                        "expansion did not reach a fixpoint in 16 "
                        "rounds — the merge log or checkpoint is "
                        "inconsistent with the snapshot")
            dkbs = [r[0] for r in ca
                    .select(F.pmod(F.hash("cluster"), n_buckets)
                            .alias("dkb"))
                    .distinct().collect()]
            t1: list = []
            if dkbs:
                d = _read_parquet_or_none(spark, dir_path)
                if d is not None:
                    t1 = [r[0] for r in
                          d.where(F.col("dkb").isin(dkbs))
                          .join(ca, "cluster", "semi")
                          .select("kb").distinct().collect()]
            touched = sorted(set(t0) | set(t1))
            store_t = (spark.read.parquet(out_dir)
                       .where(F.col("kb").isin(touched))
                       .localCheckpoint(eager=True))
            # replay skip — over the FULL touched set, not just the
            # batch-node buckets: an interrupted dynamic overwrite can
            # commit every t0 bucket and miss a bridged t1 bucket, and
            # skipping on t0 stamps alone would cement that split
            stamp = store_t.agg(
                F.count_distinct("kb"), F.min("last_batch")).first()
            if (stamp[0] == len(touched) and stamp[1] is not None
                    and stamp[1] >= batch_id):
                return  # replay of a fully-written batch: skip
            affected = store_t.join(ca, "cluster", "semi")
            kept = (store_t.join(ca, "cluster", "left_anti")
                    .select("node", "cluster", "kb"))
            edges = (affected
                     .select(F.col("node").alias("d1"),
                             F.col("cluster").alias("d2"))
                     .unionByName(bcc.select(
                         F.col("node").alias("d1"),
                         F.col("cluster").alias("d2"))))
            if heal is not None:
                edges = edges.unionByName(
                    heal.select(F.col("old").alias("d1"),
                                F.col("new").alias("d2")))
            newcc = star_components(edges, "d1", "d2")
        else:
            kept = None
            newcc = bcc
            touched = t0
        newcc = (newcc
                 .withColumn("kb", F.pmod(F.hash("node"), n_buckets))
                 .localCheckpoint(eager=True))
        # merge log, then directory, then snapshot (see the crash
        # contract above).  All writes repartition ON THE PARTITION
        # KEY: without it every shuffle partition holds rows of every
        # touched bucket and partitionBy fans out shuffle_partitions ×
        # buckets tiny files PER TRIGGER (measured 8k files/wave at
        # n_buckets=256 — the probe's first run); co-locating each
        # bucket first writes one file per touched bucket per trigger,
        # which is also what keeps compaction cadence sane.
        if store_t0 is not None:
            (affected.select("node", F.col("cluster").alias("old"))
             .join(newcc.select("node",
                                F.col("cluster").alias("new")),
                   "node")
             .where(F.col("old") != F.col("new"))
             .select("old", "new").distinct()
             .withColumn("batch_id",
                         F.lit(int(batch_id)).cast("long"))
             .withColumn("mkb", F.pmod(F.hash("new"), n_buckets))
             .repartition("mkb")
             .write.mode("append").partitionBy("mkb")
             .parquet(merges_path))
        (newcc.select("cluster", "kb").distinct()
         .withColumn("dkb", F.pmod(F.hash("cluster"), n_buckets))
         .repartition("dkb")
         .write.mode("append").partitionBy("dkb").parquet(dir_path))
        out = newcc if kept is None else kept.unionByName(newcc)
        (out.withColumn("last_batch",
                        F.lit(int(batch_id)).cast("long"))
         .repartition("kb")
         .localCheckpoint(eager=True)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("kb").parquet(out_dir))
        # auto-compaction cadence (r13 verdict #5): probe only the
        # leaves this trigger wrote — snapshot buckets, plus the
        # <= n_buckets directory/merge-log partitions
        subs = [f"kb={x}" for x in touched]
        for aux in ("_directory", "_merges"):
            ap = os.path.join(out_dir, aux)
            if os.path.isdir(ap):
                subs += [os.path.join(aux, d) for d in os.listdir(ap)
                         if "=" in d and not d.startswith(".")]
        _auto_compact_store(spark, out_dir, subs, batch_id,
                            auto_compact_files)

    return _start(pairs, write_batch, checkpoint_dir, available_now)


def lpa_communities_stream(pairs: DataFrame, out_dir: str,
                           checkpoint_dir: str,
                           d1: str = "d1", d2: str = "d2",
                           max_iter: int = 20,
                           auto_compact_files: "int | None" = 64,
                           available_now: bool = False):
    """Incrementally maintained LABEL-PROPAGATION communities (r13
    verdict stretch #10): as edges stream in, the stored ``(node,
    community)`` snapshot stays EXACTLY equal to batch
    :func:`~..operators.graph.label_propagation` over every edge ever
    streamed — not an approximation.

    Why exact incremental maintenance is possible for a non-monotone
    heuristic: synchronous LPA is COMPONENT-DECOMPOSABLE.  Labels
    propagate only along edges, synchronous rounds over disjoint
    components never interact, stability is absorbing (a component
    whose round changes nothing stays fixed while others keep
    iterating), and the ``max_iter`` budget applies identically to a
    component run alone or inside the global graph — so global LPA ==
    independent LPA per connected component.  Components only MERGE
    as edges arrive, so a trigger re-runs LPA FROM SCRATCH on exactly
    the touched components (their full stored edge sets ∪ the batch)
    and keeps every untouched component's labels verbatim; the
    non-monotone label flips the verdict worried about are confined
    to the re-run scope by construction.  What IS out of scope:
    sub-component incrementality (re-using partial labels inside a
    touched component — genuinely unsound because one new edge can
    flip labels arbitrarily far within the component).

    Store layout: ``out_dir`` = the whole-rewrite snapshot ``(node,
    community, cluster, last_batch)`` (cluster = component min,
    :func:`components_stream`'s contract — it is what scopes the
    re-run); ``<out_dir>.edges`` (a SIBLING dir — the snapshot's
    whole-dir overwrite would delete a subdir) = the append-only
    ground-truth edge log stamped with ``batch_id`` (replay appends
    dedup on the stamp).  Edges-before-snapshot is the crash
    contract: a replay
    that finds its batch already logged but the snapshot stamp behind
    recomputes from the log (idempotent — the scope re-runs from
    scratch), and a snapshot lost to a crash mid-overwrite rebuilds
    ENTIRELY from the log (scope widens to every logged edge), which
    is strictly stronger than the small-rollup faces' atomic-ish
    rewrite caveat.

    Cost contract: O(state) snapshot rewrite per trigger plus an LPA
    re-run bounded by the touched components — the
    :func:`components_stream` small-universe trade.  A workload that
    keeps touching one giant component re-runs that component every
    trigger (inherent: its labels may legitimately all flip).  The
    edge log accrues one file per trigger (``coalesce(1)``) under a
    ``kb=0`` partition leaf — NOT flat in the store root, so
    :func:`compact_candidate_store`'s per-leaf swap applies (a flat
    log made the store root the swap leaf; a crash mid-swap renamed
    the whole log away unrecoverably — r14 ADVICE; legacy flat logs
    are lifted into ``kb=0`` on attach).  The generic leaf pass folds
    it automatically past ``auto_compact_files`` files (the r13
    verdict #5 cadence; batch_id rows survive compaction verbatim, so
    replay dedup keeps working — None = manual)."""
    from ..operators.graph import label_propagation, star_components

    edges_path = out_dir.rstrip("/") + ".edges"

    def _lift_flat_log() -> None:
        # the log lives under a kb=0 partition leaf so compaction's
        # per-leaf swap applies (a FLAT log would make the store root
        # the swap leaf — compact_candidate_store refuses those after
        # the r14 ADVICE: a crash mid-swap renamed the store away and
        # the next trigger silently re-created an EMPTY edge log).
        # Legacy flat logs are lifted in place: one rename per file,
        # idempotent, resumable after a crash at any point.
        if not os.path.isdir(edges_path):
            return
        flat = [f for f in os.listdir(edges_path)
                if f.endswith(".parquet")]
        if not flat:
            return
        leaf = os.path.join(edges_path, "kb=0")
        os.makedirs(leaf, exist_ok=True)
        for f in flat:
            os.rename(os.path.join(edges_path, f),
                      os.path.join(leaf, f))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _lift_flat_log()
        b = (batch_df.select(F.col(d1).alias("d1"),
                             F.col(d2).alias("d2"))
             .where(F.col("d1").isNotNull() & F.col("d2").isNotNull())
             .distinct().localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        snap = _read_parquet_or_none(spark, out_dir)
        if snap is not None:
            snap = snap.localCheckpoint(eager=True)
            last = snap.agg(F.max("last_batch")).first()[0]
            if last is not None and last >= batch_id:
                return        # replay of a fully-written batch: skip
            snap = snap.drop("last_batch")
        edge_log = _read_parquet_or_none(spark, edges_path)
        logged = edge_log is not None and bool(
            edge_log.where(F.col("batch_id") == int(batch_id))
            .limit(1).count())
        if not logged:
            (b.withColumn("batch_id",
                          F.lit(int(batch_id)).cast("long"))
             .withColumn("kb", F.lit(0))
             .coalesce(1).write.mode("append").partitionBy("kb")
             .parquet(edges_path))
            # fold the kb=0 leaf's per-trigger litter in-slot past
            # the threshold (replay stamps preserved)
            _auto_compact_store(spark, edges_path, ["kb=0"], batch_id,
                                auto_compact_files)
        edges = spark.read.parquet(edges_path).select("d1", "d2")
        batch_nodes = (b.select(F.col("d1").alias("node"))
                       .unionByName(b.select(F.col("d2").alias("node")))
                       .distinct())
        if snap is not None:
            ca = (snap.join(batch_nodes, "node")
                  .select("cluster").distinct())
            scope_nodes = (snap.join(ca, "cluster", "semi")
                           .select("node")
                           .unionByName(batch_nodes).distinct()
                           .localCheckpoint(eager=True))
            kept = (snap.join(ca, "cluster", "left_anti")
                    .select("node", "community", "cluster"))
            # every edge of a touched component has d1 among its
            # members (∪ batch nodes), so one semi-join scopes the log
            scope_edges = (edges.join(
                scope_nodes.withColumnRenamed("node", "d1"),
                "d1", "semi").localCheckpoint(eager=True))
        else:
            # no snapshot (first batch, or lost to a crash): rebuild
            # from the full ground-truth log
            kept = None
            scope_edges = edges.localCheckpoint(eager=True)
        lab = label_propagation(scope_edges, max_iter=max_iter)
        cc = star_components(scope_edges)
        newrows = (lab.join(cc, "node")
                   .select("node", "community", "cluster"))
        out = newrows if kept is None else kept.unionByName(newrows)
        (out.withColumn("last_batch",
                        F.lit(int(batch_id)).cast("long"))
         .localCheckpoint(eager=True)
         .coalesce(1).write.mode("overwrite").parquet(out_dir))

    return _start(pairs, write_batch, checkpoint_dir, available_now)


def compact_candidate_store(spark: SparkSession, store_dir: str,
                            target_file_bytes: int = 128 << 20):
    """Compact a streaming candidate store's per-batch file litter —
    r12 verdict #4: :func:`semdedup_stream` / :func:`colocation_
    monitor_stream` / :func:`fuzzy_dedup_stream` / :func:`media_dedup_
    stream` / :func:`components_stream_bucketed` append one parquet
    file per batch per touched bucket forever, so after 10^4 triggers
    a touched-bucket probe reads 10^4 tiny files (driver listing + one
    task each — the file COUNT, not the bytes, is the 100 TB scan
    bottleneck, the ``ingest.compact_warehouse`` lesson).

    Walks each bucket partition (``kb=N`` / ``dkb=N`` leaf) and, where
    it holds more files than ``ceil(bytes / target_file_bytes)``,
    rewrites it to that many files and atomically swaps the directory
    (two ``os.rename`` calls; the temp/old siblings are underscore-
    prefixed so a concurrent reader never sees them as partitions).
    Row content — including the ``batch_id`` / ``last_batch`` replay
    stamps — is preserved verbatim, and ``_store_geometry.json`` is
    never touched, so the monitor RESUMES FROM THE SAME CHECKPOINT
    after compaction (run it stream-idle, between triggers: the
    monitors read whole buckets per trigger and the swap is
    per-bucket-atomic, but a trigger racing the swap on a local fs
    could list a bucket mid-rename — the compact_warehouse
    operational rule).

    For a ``components`` store the cluster directory is REBUILT from
    the snapshot instead of merely compacted: the maintained
    ``_directory`` is append-only (its pairs for absorbed cluster ids
    go stale-but-harmless — see :func:`components_stream_bucketed`),
    and the snapshot itself is the exact current (cluster, kb) truth,
    so compaction is the natural point to shed the dead pairs.

    Crash recovery: the per-leaf swap is two ``os.rename`` calls, and
    a crash between them leaves the bucket's only data in the
    underscore-prefixed ``_compact_old_<name>`` sibling — invisible to
    readers.  Every entry therefore FIRST walks the store for swap
    leftovers and repairs them: an ``_compact_old_`` dir whose leaf is
    missing is renamed back (the interrupted compaction simply redoes
    that leaf); one whose leaf exists is completed-swap garbage and is
    deleted, as is any ``_compact_tmp_``.  Run it (or any monitor
    restart that calls it) before trusting a store that may have died
    mid-compaction.

    FLAT stores (parquet files directly in ``store_dir``) are refused,
    not compacted: the root itself would be the swap leaf, the two
    renames would move the store dir through the PARENT directory, and
    a crash between them left no store at all — the recovery walk,
    which walks ``store_dir``, could never see the leftover (r14
    ADVICE).  Entry additionally repairs that legacy state: a parent
    ``_compact_old_<basename>`` sibling with no surviving store is
    renamed back into place.  Monitors keep litter-prone logs under a
    partition leaf instead (:func:`lpa_communities_stream` writes its
    edge log under ``kb=0``).

    Returns a pandas frame (partition, n_files_before, n_files_after,
    bytes)."""
    import math
    import shutil

    import pandas as _pd

    def _swap(leaf: str, df, k: int) -> None:
        base = os.path.dirname(leaf)
        name = os.path.basename(leaf)
        tmp = os.path.join(base, f"_compact_tmp_{name}")
        old = os.path.join(base, f"_compact_old_{name}")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        df.coalesce(k).write.mode("overwrite").parquet(tmp)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)

    # a FLAT store (parquet files directly in store_dir) makes the
    # store root itself the leaf: _swap's tmp/old siblings would land
    # in the store's PARENT and the first rename would move the store
    # dir away entirely — a crash between the renames leaves no store,
    # and the recovery walk below (which walks store_dir) could never
    # repair it (r14 ADVICE, medium).  Root leaves are therefore
    # REFUSED (logged, not compacted); store-backed monitors keep
    # their litter-prone leaves under partition subdirs (the LPA edge
    # log writes kb=0) precisely so this refusal never bites them.
    root_leaf = os.path.normpath(store_dir)

    # repair leftovers of an OLD-code root-leaf swap that crashed
    # between the renames: the store's only data sits in the parent's
    # _compact_old_<basename> sibling and store_dir itself is gone
    parent = os.path.dirname(root_leaf)
    base = os.path.basename(root_leaf)
    legacy_old = os.path.join(parent, f"_compact_old_{base}")
    legacy_tmp = os.path.join(parent, f"_compact_tmp_{base}")
    if os.path.isdir(legacy_old):
        if os.path.exists(root_leaf):
            shutil.rmtree(legacy_old)         # completed-swap garbage
        else:
            os.rename(legacy_old, root_leaf)  # died between renames
    shutil.rmtree(legacy_tmp, ignore_errors=True)

    # repair leftovers of a compaction that crashed mid-swap BEFORE
    # listing leaves (docstring crash-recovery contract)
    for root, dirs, _files in os.walk(store_dir):
        for d in list(dirs):
            p = os.path.join(root, d)
            if d.startswith("_compact_old_"):
                leaf = os.path.join(root, d[len("_compact_old_"):])
                if os.path.exists(leaf):
                    shutil.rmtree(p)      # swap completed; garbage
                else:
                    os.rename(p, leaf)    # died between renames
            elif d.startswith("_compact_tmp_"):
                shutil.rmtree(p)          # never swapped in; stale
        dirs[:] = [d for d in dirs if not d.startswith("_compact_")]

    log = []
    leaves = []
    for root, dirs, files in os.walk(store_dir):
        dirs[:] = [d for d in dirs if not d.startswith("_compact_")]
        if any(f.endswith(".parquet") for f in files):
            leaves.append(root)
    for leaf in sorted(leaves):
        pq = [os.path.join(leaf, f) for f in os.listdir(leaf)
              if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in pq)
        if os.path.normpath(leaf) == root_leaf:
            # flat store — swapping the root would rename the store
            # away (see the refusal note above); leave it verbatim
            log.append(("<root> (refused: flat store)",
                        len(pq), len(pq), nbytes))
            continue
        k = max(1, math.ceil(nbytes / target_file_bytes))
        if len(pq) <= k:
            log.append((os.path.relpath(leaf, store_dir),
                        len(pq), len(pq), nbytes))
            continue
        # read THIS leaf only and keep its row content verbatim; the
        # localCheckpoint breaks the file lineage so the overwrite of
        # the temp dir (and the swap) never races the read plan
        df = spark.read.parquet(leaf).localCheckpoint(eager=True)
        _swap(leaf, df, k)
        log.append((os.path.relpath(leaf, store_dir),
                    len(pq), k, nbytes))

    # components stores: rebuild the directory from the snapshot
    # (dedupes AND sheds stale pairs for absorbed cluster ids)
    geom_path = os.path.join(store_dir, "_store_geometry.json")
    dir_path = os.path.join(store_dir, "_directory")
    if os.path.exists(geom_path) and os.path.isdir(dir_path):
        with open(geom_path) as fh:
            geom = json.load(fh)
        if geom.get("kind") == "components":
            n_buckets = int(geom["n_buckets"])
            fresh = (spark.read.parquet(store_dir)
                     .select("cluster", "kb").distinct()
                     .withColumn("dkb", F.pmod(F.hash("cluster"),
                                               n_buckets))
                     .localCheckpoint(eager=True))
            # names follow the _compact_{tmp,old}_<leafname> scheme so
            # the entry recovery walk repairs a crash here too
            tmp = os.path.join(store_dir, "_compact_tmp__directory")
            old = os.path.join(store_dir, "_compact_old__directory")
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            fresh.write.mode("overwrite").partitionBy("dkb") \
                 .parquet(tmp)
            os.rename(dir_path, old)
            os.rename(tmp, dir_path)
            shutil.rmtree(old)
            log.append(("_directory (rebuilt)", -1, -1, -1))
            # merge-log aging (r14 ADVICE): pairs stamped older than
            # the snapshot's newest last_batch describe absorptions
            # from fully committed batches (batch N starts only after
            # N-1 completed), so expansion never needs them again —
            # drop them, re-stamping legacy NULL rows at the newest
            # stamp so they age out one cycle later instead of living
            # forever.  Pairs AT the newest stamp are kept: that batch
            # may be the partially-written one this store crashed in.
            merges_path = os.path.join(store_dir, "_merges")
            if os.path.isdir(merges_path):
                maxlb = (spark.read.parquet(store_dir)
                         .agg(F.max("last_batch")).first()[0])
                ml = None
                try:
                    ml = (spark.read.option("mergeSchema", "true")
                          .parquet(merges_path))
                except Exception:
                    pass
                if ml is not None and maxlb is not None:
                    if "batch_id" not in ml.columns:
                        ml = ml.withColumn(
                            "batch_id", F.lit(None).cast("long"))
                    kept_ml = (ml.withColumn(
                        "batch_id",
                        F.coalesce(F.col("batch_id").cast("long"),
                                   F.lit(int(maxlb))))
                        .where(F.col("batch_id") >= F.lit(int(maxlb)))
                        .select("old", "new", "batch_id", "mkb")
                        .localCheckpoint(eager=True))
                    tmp = os.path.join(store_dir,
                                       "_compact_tmp__merges")
                    old = os.path.join(store_dir,
                                       "_compact_old__merges")
                    shutil.rmtree(tmp, ignore_errors=True)
                    shutil.rmtree(old, ignore_errors=True)
                    kept_ml.repartition("mkb").write \
                        .mode("overwrite").partitionBy("mkb") \
                        .parquet(tmp)
                    os.rename(merges_path, old)
                    os.rename(tmp, merges_path)
                    shutil.rmtree(old)
                    log.append(("_merges (aged)", -1, -1, -1))
    return _pd.DataFrame(log, columns=["partition", "n_files_before",
                                       "n_files_after", "bytes"])


def duplicate_spans_stream(docs: DataFrame, out_dir: str,
                           checkpoint_dir: str, alerts_dir: str,
                           window: int = 12,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           n_buckets: int = 16,
                           auto_compact_files: "int | None" = 64,
                           available_now: bool = False):
    """Streaming face of the ExactSubstr pass
    (:func:`~..operators.text.duplicate_spans`): as documents land,
    every stride-1 ``window``-word hash is appended to a bucketed
    WINDOW INDEX (``pmod(hash, n_buckets)`` partitions — one row per
    window occurrence ever, the ``index_stream`` state class), and a
    batch window already known to the corpus (or repeated inside the
    batch) fires an alert the moment it arrives — so verbatim
    boilerplate is caught at ingest instead of at the next batch
    hygiene run.

    Alerts (``alerts_dir/batch=<id>``) carry ``(doc_id, pos, h,
    total_count)`` for the NEWLY-ARRIVED duplicated windows only —
    the earlier occurrence that retroactively became a duplicate is
    not re-announced (the media/fuzzy convention); the REMOVAL-ready
    truth at any trigger is :func:`duplicate_spans_snapshot`, which
    reads the index back into exactly batch ``duplicate_spans``'
    output over everything ever streamed (parity-pinned).

    Cost contract (r14 verdict #1 — the old form's "touched-bucket
    probe" was a fiction: window hashes are UNIFORM, so any real
    batch touches every bucket at any plausible ``n_buckets`` and the
    prior-count probe read and re-aggregated the ENTIRE occurrence
    index each trigger).  The alert path only needs per-hash COUNTS,
    so those live in a compact sidecar, ``out_dir/_counts`` —
    ``(h, n, batch_id)``, one row per distinct window hash, appended
    as a single file per trigger and folded in-slot past the
    compaction threshold.  Per-trigger alert cost is therefore: batch
    windows + ONE no-shuffle columnar scan of the sidecar (16-byte
    rows, hash-joined against the batch's broadcast hash set) + two
    single-file appends.  The occurrence index is NEVER scanned or
    shuffled for alerts — it serves :func:`duplicate_spans_snapshot`
    / removal reads, and replay detection (a stamp probe over the
    touched buckets that parquet footer stats prune to ~one file per
    bucket).  The sidecar scan grows with DISTINCT windows ever seen,
    not with occurrences — repeated boilerplate grows the index
    without growing the probe (SCALE.md §39 measures exactly that) —
    and the strict O(batch) endgame is hash-keyed point-lookup state
    (``transformWithStateInPandas``) once the runtime carries
    protobuf.

    Crash/replay contract: write order is alerts → index append →
    sidecar append, and the replay skip requires BOTH the full
    touched-bucket stamp set on the index (any-row skipping would
    cement a partially-committed multi-bucket append — the
    components_stream_bucketed full-touched-set rule, r14 ADVICE) AND
    the sidecar stamp.  A partial replay re-appends only the missing
    buckets and recomputes alerts idempotently (the sidecar is
    written last, so prior counts never double-count the replayed
    batch).  Attaching to a pre-sidecar store bootstraps ``_counts``
    from the index's committed batches in one logged scan.  Geometry
    manifest bakes (window, n_buckets); re-bucketing an existing
    store = :func:`window_index_reproject`.

    ``auto_compact_files``: the r13 verdict #5 cadence — one file per
    touched bucket per trigger accrues; the in-slot compactor folds
    it (and the sidecar) past the threshold."""
    import shutil as _sh

    W = int(window)
    counts_dir = os.path.join(out_dir, "_counts")
    counts_leaf = os.path.join(counts_dir, "cb=0")

    def _repair_counts() -> None:
        # fold-swap / append leftovers from a crash mid-trigger:
        # same two-rename rules as compact_candidate_store's entry
        if not os.path.isdir(counts_dir):
            return
        old = os.path.join(counts_dir, "_compact_old_cb=0")
        tmp = os.path.join(counts_dir, "_compact_tmp_cb=0")
        if os.path.isdir(old):
            if os.path.exists(counts_leaf):
                _sh.rmtree(old)           # completed swap; garbage
            else:
                os.rename(old, counts_leaf)   # died between renames
        _sh.rmtree(tmp, ignore_errors=True)
        for d in os.listdir(counts_dir):
            if d.startswith(("_append_tmp_", "_bootstrap_tmp")):
                _sh.rmtree(os.path.join(counts_dir, d),
                           ignore_errors=True)

    def _append_one_file(df: DataFrame, batch_id: int) -> None:
        # single-file append with ONE atomic rename: a multi-file
        # parquet append can surface a partial file set if the job
        # commit crashes midway; the sidecar must never half-land
        os.makedirs(counts_leaf, exist_ok=True)
        tmp = os.path.join(counts_dir, f"_append_tmp_{int(batch_id)}")
        _sh.rmtree(tmp, ignore_errors=True)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp)
                if f.endswith(".parquet")]
        assert len(part) == 1, part
        os.rename(os.path.join(tmp, part[0]),
                  os.path.join(counts_leaf, part[0]))
        _sh.rmtree(tmp)

    def _fold_counts(spark, batch_id: int) -> None:
        # in-slot fold of the per-trigger delta litter: groupBy-sum to
        # one row per hash, re-stamped at the newest batch_id (the
        # only batch a replay can ever probe for — batches are
        # serialized, so older stamps are dead weight)
        if auto_compact_files is None:
            return
        try:
            n = sum(1 for f in os.listdir(counts_leaf)
                    if f.endswith(".parquet"))
        except FileNotFoundError:
            return
        if n <= int(auto_compact_files):
            return
        # the checkpoint breaks file lineage so the leaf swap below
        # never races the read plan (the compact_candidate_store rule)
        cur = (spark.read.parquet(counts_dir)
               .localCheckpoint(eager=True))
        maxb = cur.agg(F.max("batch_id")).first()[0]
        folded = (cur.groupBy("h").agg(F.sum("n").alias("n"))
                  .withColumn("batch_id",
                              F.lit(int(maxb)).cast("long"))
                  .localCheckpoint(eager=True))
        tmp = os.path.join(counts_dir, "_compact_tmp_cb=0")
        old = os.path.join(counts_dir, "_compact_old_cb=0")
        _sh.rmtree(tmp, ignore_errors=True)
        _sh.rmtree(old, ignore_errors=True)
        folded.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(counts_leaf, old)
        os.rename(tmp, counts_leaf)
        _sh.rmtree(old)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _store_geometry_guard(out_dir, {
            "kind": "window_index", "window": W,
            "n_buckets": int(n_buckets)})
        spark = batch_df.sparkSession
        N = int(batch_id)
        _repair_counts()
        toks = (batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"))
            .where(F.size("__w") >= W))
        b = (toks.select(
            "doc_id",
            F.posexplode(F.expr(
                f"transform(sequence(1, size(__w) - {W} + 1), "
                f"i -> xxhash64(array_join(slice(__w, i, {W}), "
                f"' ')))")).alias("__p0", "h"))
            .select("doc_id", (F.col("__p0") + 1).alias("pos"), "h")
            .withColumn("kb", F.pmod(F.hash("h"), n_buckets))
            .localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        touched = [r.kb for r in b.select("kb").distinct().collect()]
        idx = _read_parquet_or_none(spark, out_dir)
        done_kb: list = []
        if idx is not None:
            # replay detection: which touched buckets already carry
            # this batch's stamp — footer stats prune the read to the
            # per-trigger files actually stamped N (never a data scan)
            done_kb = [r.kb for r in
                       idx.where(F.col("kb").isin(touched)
                                 & (F.col("batch_id") == N))
                       .select("kb").distinct().collect()]
        counts = (_read_parquet_or_none(spark, counts_dir)
                  if idx is not None else None)
        if idx is not None and counts is None:
            # pre-sidecar store: bootstrap counts from the index's
            # COMMITTED batches (rows stamped >= N can only be a
            # partially-appended replay of this batch — excluding
            # them and stamping N-1 makes this batch re-append its
            # delta exactly once).  One logged O(index) scan, on
            # migration only.
            boot = (idx.where(F.col("batch_id") < N)
                    .groupBy("h")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .withColumn("batch_id",
                                F.lit(N - 1).cast("long"))
                    .localCheckpoint(eager=True))
            tmp = os.path.join(counts_dir, "_bootstrap_tmp")
            _sh.rmtree(tmp, ignore_errors=True)
            boot.write.mode("overwrite").parquet(tmp)
            os.makedirs(counts_dir, exist_ok=True)
            os.rename(tmp, counts_leaf)
            counts = _read_parquet_or_none(spark, counts_dir)
        counts_done = False
        if counts is not None:
            mx = counts.agg(F.max("batch_id")).first()[0]
            counts_done = mx is not None and mx >= N
        if counts_done and set(done_kb) == set(touched):
            return  # replay of a fully-written batch: skip
        inb = (b.groupBy("h").agg(F.count(F.lit(1)).alias("__nb"))
               .localCheckpoint(eager=True))
        if counts is not None:
            keys = inb.select("h")
            # the sidecar never shuffles: hash-join it against the
            # batch's (broadcast) hash set, then aggregate the tiny
            # surviving slice.  Past the broadcast gate, fall back to
            # a shuffled join (a >2M-distinct-hash batch is already
            # shuffle-scale on its own side).
            if inb.count() <= 2_000_000:
                keys = F.broadcast(keys)
            prior = (counts.join(keys, "h", "semi")
                     .groupBy("h").agg(F.sum("n").alias("__np")))
        else:
            prior = (b.select("h").limit(0)
                     .withColumn("__np", F.lit(0).cast("long")))
        alerts = (b.join(inb, "h")
                  .join(prior, "h", "left")
                  .withColumn("total_count",
                              F.col("__nb")
                              + F.coalesce("__np", F.lit(0)))
                  .where(F.col("total_count") >= 2)
                  .select("doc_id", "pos", "h", "total_count")
                  .localCheckpoint(eager=True))
        _write_batch_partition(alerts, alerts_dir, N)
        if set(done_kb) != set(touched):
            _store_append(b, out_dir, done_kb, N, auto_compact_files)
        if not counts_done:
            _append_one_file(
                inb.select("h", F.col("__nb").alias("n"))
                .withColumn("batch_id", F.lit(N).cast("long")), N)
        _fold_counts(spark, N)

    return _start(docs, write_batch, checkpoint_dir, available_now)


def duplicate_spans_snapshot(spark: SparkSession,
                             store_dir: str) -> DataFrame:
    """Read a :func:`duplicate_spans_stream` window index back into
    EXACTLY batch :func:`~..operators.text.duplicate_spans`' output
    over everything ever streamed: flag = corpus-wide hash count >= 2
    (one unordered COUNT window — the batch operator's plan over the
    stored rows instead of a fresh tokenization), then the same
    per-doc prefix-max island merge into maximal spans.  Retroactive
    duplicates — the FIRST occurrence of a window whose second copy
    arrived later — appear here (the alert stream never re-announces
    them); this is the frame a removal job consumes."""
    from pyspark.sql import Window as _W
    with open(os.path.join(store_dir, "_store_geometry.json")) as fh:
        geom = json.load(fh)
    if geom.get("kind") != "window_index":
        raise ValueError(f"not a window index store: {geom}")
    W = int(geom["window"])
    rows = spark.read.parquet(store_dir).select("doc_id", "pos", "h")
    fpos = (rows.withColumn(
        "__n", F.count(F.lit(1)).over(_W.partitionBy("h")))
        .where(F.col("__n") >= 2).select("doc_id", "pos"))
    prev = _W.partitionBy("doc_id").orderBy("pos") \
             .rowsBetween(_W.unboundedPreceding, -1)
    brk = F.when(
        F.col("pos") > F.coalesce(F.max("pos").over(prev) + W,
                                  F.lit(-1)),
        F.lit(1)).otherwise(F.lit(0))
    run = _W.partitionBy("doc_id").orderBy("pos") \
            .rowsBetween(_W.unboundedPreceding, 0)
    isl = (fpos.withColumn("__brk", brk)
           .withColumn("__g", F.sum("__brk").over(run)))
    return (isl.groupBy("doc_id", "__g")
            .agg(F.min("pos").alias("start_word"),
                 (F.max("pos") + F.lit(W - 1)).alias("end_word"),
                 F.count(F.lit(1)).alias("n_windows"))
            .select("doc_id", "start_word", "end_word", "n_windows"))


def window_index_reproject(spark: SparkSession, store_dir: str,
                           new_store_dir: str, n_buckets: int = 16,
                           rebase_batch_ids: bool = False) -> int:
    """Re-bucketing migration for a :func:`duplicate_spans_stream`
    window index (the :func:`semdedup_store_reproject` pattern):
    ``n_buckets`` is baked into the stored ``kb`` layout by the
    geometry manifest, so changing it means ONE scan of the old index
    into a NEW directory — never an in-place rewrite (a mixed-bucket
    store would stamp-skip and prune wrongly forever).  ``window``
    cannot change (the stored hashes bake it); the manifest's value is
    carried over.  The ``_counts`` sidecar is rebuilt in the same
    pass, so the migrated store probes at sidecar cost from its first
    trigger.

    ``batch_id`` stamps are preserved verbatim so the migrated
    monitor CONTINUES FROM THE SAME CHECKPOINT (stop the stream
    cleanly, reproject, restart with ``out_dir=new_store_dir`` and
    the new ``n_buckets``); ``rebase_batch_ids=True`` stamps history
    as ``-1`` for a brand-new checkpoint lineage (the semdedup
    collision rule).  Returns the number of occurrence rows
    migrated."""
    if os.path.exists(new_store_dir):
        raise ValueError(
            f"window_index_reproject refuses existing target "
            f"{new_store_dir!r}: a re-bucketed index must be a NEW "
            "directory (mixed kb layouts stamp-skip wrongly)")
    with open(os.path.join(store_dir, "_store_geometry.json")) as fh:
        geom = json.load(fh)
    if geom.get("kind") != "window_index":
        raise ValueError(f"not a window index store: {geom}")
    bid = (F.lit(-1).cast("long") if rebase_batch_ids
           else F.col("batch_id"))
    rows = (spark.read.parquet(store_dir)
            .select("doc_id", "pos", "h", bid.alias("batch_id"))
            .withColumn("kb", F.pmod(F.hash("h"), int(n_buckets)))
            .localCheckpoint(eager=True))
    (rows.repartition("kb").write.partitionBy("kb")
     .parquet(new_store_dir))
    maxb = rows.agg(F.max("batch_id")).first()[0]
    (rows.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
     .withColumn("batch_id", F.lit(int(maxb)).cast("long"))
     .write.parquet(os.path.join(new_store_dir, "_counts", "cb=0")))
    _store_geometry_guard(new_store_dir, {
        "kind": "window_index", "window": int(geom["window"]),
        "n_buckets": int(n_buckets)})
    return spark.read.parquet(new_store_dir).count()


def triangle_count_stream(pairs: DataFrame, out_dir: str,
                          checkpoint_dir: str,
                          d1: str = "d1", d2: str = "d2",
                          n_buckets: int = 16,
                          auto_compact_files: "int | None" = 64,
                          available_now: bool = False):
    """Incrementally maintained EXACT global triangle count over a
    stream of undirected edges — the streaming face of
    ``graph.triangle_count`` (density monitoring on a growing
    near-dup / linkage graph without ever re-counting history).

    State: a SYMMETRIC adjacency store (one row ``(node, nbr)`` per
    edge direction, partitioned ``kb = pmod(hash(node), n_buckets)``
    so a probe reads only the buckets of the batch's own endpoints)
    plus a per-batch DELTA LOG under ``_totals/`` (underscore dir —
    invisible to the store's parquet discovery, the components
    ``_directory`` convention): one row ``(batch_id, edge_delta,
    tri_delta)``; :func:`triangle_totals_snapshot` folds the log.

    Per trigger, inclusion–exclusion makes the delta EXACT with only
    touched-bucket reads — a triangle whose k >= 1 edges are new is
    seen k times by the common-neighbor pass, so

        tri_delta = A1 - T2 - 2*T3

    where A1 = sum over new edges (u,v) of |N(u) ∩ N(v)| in the
    UNION graph (old ∪ new: for each new edge, u's neighbors come
    from u's bucket + the batch itself; the closing check (v,w) is an
    adjacency row under v — also a touched bucket), T2 = triangles
    with EXACTLY two new edges (a new wedge u-w-v closed by an OLD
    edge), and T3 = triangles entirely inside the batch (ordered-
    triple canonical 3-join on the new edges alone).  Duplicate
    edges — in-batch or vs the store — are dropped first and change
    nothing (the media_dedup_stream "duplicates never grow state"
    contract), so store size tracks the DISTINCT edge count.

    Replay: store rows carry ``batch_id``; probes run against PRIOR
    batches only and a replayed batch skips only once every bucket it
    would write is stamped AND its delta-log row exists, re-appending
    just the missing buckets otherwise (:func:`_store_read`); the
    delta-log row is an idempotent per-batch overwrite.  The geometry
    manifest bakes ``n_buckets``; ``auto_compact_files`` gives the
    store the shared compaction cadence.  Scale: per-trigger cost is
    O(batch wedges + touched-bucket adjacency), independent of stream
    length; the inherent hazard is a HOT NODE arriving (its bucket's
    adjacency list is the probe cost) — the same degree hazard
    ``graph.link_scores`` documents, surfaced here per-trigger
    instead of per-job."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _store_geometry_guard(out_dir, {
            "kind": "triangles", "n_buckets": int(n_buckets)})
        spark = batch_df.sparkSession
        b = (batch_df.select(F.least(d1, d2).alias("a"),
                             F.greatest(d1, d2).alias("b"))
             .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                    & (F.col("a") != F.col("b")))
             .distinct()
             .localCheckpoint(eager=True))
        if not b.limit(1).count():
            return
        bsym = (b.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
                .unionByName(b.select(F.col("b").alias("node"),
                                      F.col("a").alias("nbr"))))
        touched = [r.kb for r in
                   bsym.select(F.pmod(F.hash("node"), n_buckets)
                               .alias("kb")).distinct().collect()]
        prior, done = _store_read(spark, out_dir, touched, batch_id)
        # new edges: batch minus already-stored (checked in ONE
        # direction — the store is symmetric, so (a,b) exists iff the
        # adjacency row under node=a does, and a's bucket is touched)
        if prior is not None:
            new = b.join(prior.select(F.col("node").alias("a"),
                                      F.col("nbr").alias("b")),
                         ["a", "b"], "left_anti")
        else:
            new = b
        new = new.localCheckpoint(eager=True)
        tri_delta, edge_delta = 0, new.count()
        if edge_delta:
            nsym = (new.select(F.col("a").alias("node"),
                               F.col("b").alias("nbr"))
                    .unionByName(new.select(F.col("b").alias("node"),
                                            F.col("a").alias("nbr"))))
            adj = (nsym if prior is None
                   else prior.select("node", "nbr").unionByName(nsym)) \
                .localCheckpoint(eager=True)
            # A1: for each new edge (u,v), wedge through u's neighbors
            # w != v, closed by adjacency row (v, w)
            wed = (new.join(adj.select(F.col("node").alias("a"),
                                       F.col("nbr").alias("w")), "a")
                   .where(F.col("w") != F.col("b")))
            a1 = (wed.join(adj.select(F.col("node").alias("b"),
                                      F.col("nbr").alias("w")),
                           ["b", "w"], "left_semi")
                  .count())
            # T3: triangles entirely inside the batch (x < y < z)
            e1 = new.select(F.col("a").alias("x"), F.col("b").alias("y"))
            e2 = new.select(F.col("a").alias("y"), F.col("b").alias("z"))
            e3 = new.select(F.col("a").alias("x"), F.col("b").alias("z"))
            t3 = e1.join(e2, "y").join(e3, ["x", "z"], "left_semi").count()
            # T2: a NEW wedge u-w-v (u < v) closed by an OLD edge —
            # old = prior store rows only (new edges were anti-joined
            # out of the store side, so no overlap)
            if prior is not None:
                w1 = nsym.select(F.col("node").alias("w"),
                                 F.col("nbr").alias("u"))
                w2 = nsym.select(F.col("node").alias("w"),
                                 F.col("nbr").alias("v"))
                nwed = (w1.join(w2, "w")
                        .where(F.col("u") < F.col("v")))
                t2 = (nwed.join(prior.select(F.col("node").alias("u"),
                                             F.col("nbr").alias("v")),
                                ["u", "v"], "left_semi")
                      .count())
            else:
                t2 = 0
            tri_delta = a1 - t2 - 2 * t3
        # delta-log row first (idempotent overwrite), then the append:
        # a crash between them replays into re-appending missing
        # buckets with the SAME deterministic delta
        row = spark.createDataFrame(
            [(int(batch_id), int(edge_delta), int(tri_delta))],
            "batch_id long, edge_delta long, tri_delta long")
        _write_batch_partition(row, os.path.join(out_dir, "_totals"),
                               batch_id)
        if edge_delta:
            _store_append(nsym.withColumn("kb", F.pmod(F.hash("node"),
                                                       n_buckets)),
                          out_dir, done, batch_id, auto_compact_files)

    return _start(pairs, write_batch, checkpoint_dir, available_now)


def triangle_totals_snapshot(spark, out_dir: str) -> "DataFrame":
    """Fold ``triangle_count_stream``'s per-batch delta log into the
    running totals — one row ``(n_edges, n_triangles)`` equal to
    ``graph.triangle_count`` over every distinct edge ever streamed
    (parity-pinned by pytest).  Reads only the tiny ``_totals`` log,
    never the adjacency store."""
    t = spark.read.parquet(os.path.join(out_dir, "_totals"))
    return t.agg(
        F.coalesce(F.sum("edge_delta"), F.lit(0)).cast("long")
        .alias("n_edges"),
        F.coalesce(F.sum("tri_delta"), F.lit(0)).cast("long")
        .alias("n_triangles"))
