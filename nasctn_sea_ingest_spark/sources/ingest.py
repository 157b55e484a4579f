"""Distributed ``.sigmf`` ingest: file/zip listing → Arrow-batched decode →
partitioned parquet tables.

Replaces the reference's zip-archive machinery (``ziparchive.py:22-497`` —
cached central directories, delayed per-block reads, divisions probing) with
the storage-level equivalents SURVEY.md §1.5/§4 calls for:

- the archive listing happens once on the driver and becomes a small
  **file-ref DataFrame** (zip central directories are read once; workers
  reopen members by path+name, the same model as the reference's
  ``MultiProcessingZipFile``),
- decode runs as ``mapInPandas`` over the refs — one Spark task per ref
  batch, vectorized numpy inside, Arrow on the wire,
- the Dask ``divisions``/1-day-``repartition`` trick becomes
  date-partitioned parquet output with min/max stats, so time-range
  queries prune partitions for free,
- per-file failures quarantine into an ``error`` column instead of killing
  the job (reference ``errors='log'``, ``ziparchive.py:424-440``).

Every ``.sigmf`` reader runs one per-file loop, ``_each_file``: one
decode call per file (bytes from a ref or a binaryFile ``content``
column), a failed file's error reported instead of raised. The stage
``_decode_stage`` runs it for ``decode_traces``, ``decode_dir``, the two
metadata stages (the metadata-only fast path, S14), the one-pass
``_decode_files`` and the streaming ingest, and turns a failed file into
one quarantine row; the ``partition_func`` hook runs it too.

Every table of a file comes from one decode (``_file_tables``: verify,
decompress and plan once). ``ingest()`` runs it in one Python stage whose
tasks also write the four tables with pyarrow (``_stage_tables``), the way
the reference's Dask workers decode a sweep and write it from the same
worker: the driver only commits the files the tasks name, so the float
trace arrays never enter the JVM. Taking them in there, caching them and
having parquet-mr re-encode them element by element was 5.7 s of the
8.3 s CPU of one traced 48-file, 7,920-trace-row ingest (``local[3]``,
4-core host; 0.4 of 1.9 s now); pyarrow builds, sorts and writes the
same rows in about 0.25 s of CPU. The API's zip reads take the same
decode through
``_decode_files``, which emits a file's trace, channel and sweep rows (or
only its quarantine row) into one frame that the lazy dict splits per
table, uncached. A separate metadata pass is not free even though its
parse is: every Python task pays a fixed worker set-up cost, so each
extra ``mapInPandas`` stage costs CPU however little it does. On local
sessions the package's daemon (``_daemon``) keeps that cost down (24
one-row tasks, ``local[3]``, 4-core host): it was about 0.25 s CPU per
task while pyspark's per-task import-cache reset re-read the zipped
pyspark library's central directory once per importer, 0.045 s once the
daemon stopped that, and about 0.005 s since the daemon also imports
numpy, pandas, pyarrow and this module and freezes them before it forks,
so pyspark's per-task ``gc.collect()`` skips them. A freshly forked
worker (one per ``ingest()`` after a ``limit`` read has stopped a worker
early) no longer spends 0.3-0.5 s importing them on its first Arrow
task.

At 100 TB scale the refs DataFrame is the only driver-side state (a few
bytes per file); decode parallelism = number of ref partitions, and the
output layout (table, date) keeps both full-table scans (one table dir) and
time-sliced queries (partition pruning) cheap. Zip archives should land on
a shared object store so any executor can range-read members.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
import zipfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .sigmf import TRACE_TABLES, _planned, _trace_tuples, decode_sigmf, \
    decode_sigmf_meta, decode_sigmf_trace_records

# --------------------------------------------------------------------------
# schemas
# --------------------------------------------------------------------------

REF_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),      # file or zip archive
    T.StructField("member", T.StringType(), True),     # zip member, else null
    T.StructField("size", T.LongType(), True),
])

TRACE_SCHEMA = T.StructType([
    T.StructField("source_file", T.StringType(), False),
    T.StructField("table", T.StringType(), True),
    T.StructField("datetime", T.TimestampType(), True),
    T.StructField("frequency", T.DoubleType(), True),
    T.StructField("capture_statistic", T.StringType(), True),
    T.StructField("detector", T.StringType(), True),
    T.StructField("kind", T.StringType(), True),
    T.StructField("values", T.ArrayType(T.FloatType()), True),
    T.StructField("x_start", T.DoubleType(), True),
    T.StructField("x_step", T.DoubleType(), True),
    T.StructField("error", T.StringType(), True),
])

CHANNEL_META_SCHEMA = T.StructType([
    T.StructField("source_file", T.StringType(), False),
    T.StructField("datetime", T.TimestampType(), True),
    T.StructField("frequency", T.DoubleType(), True),
    T.StructField("overload", T.BooleanType(), True),
    T.StructField("iq_capture_duration_ms", T.DoubleType(), True),
    T.StructField("cal_gain_dB", T.DoubleType(), True),
    T.StructField("cal_noise_figure_dB", T.DoubleType(), True),
    T.StructField("cal_temperature_degC", T.DoubleType(), True),
    T.StructField("cal_datetime", T.TimestampType(), True),
    T.StructField("sigan_reference_level_dBm", T.DoubleType(), True),
    T.StructField("sigan_attenuation_dB", T.DoubleType(), True),
    T.StructField("sigan_preamp_enable", T.BooleanType(), True),
    T.StructField("extras", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("error", T.StringType(), True),
])

SWEEP_META_SCHEMA = T.StructType([
    T.StructField("source_file", T.StringType(), False),
    T.StructField("sample_rate", T.DoubleType(), True),
    T.StructField("version", T.StringType(), True),
    T.StructField("metadata_version", T.StringType(), True),
    T.StructField("schedule_name", T.StringType(), True),
    T.StructField("schedule_start_datetime", T.TimestampType(), True),
    T.StructField("schedule_interval", T.DoubleType(), True),
    T.StructField("task", T.LongType(), True),
    T.StructField("diagnostics_datetime", T.TimestampType(), True),
    T.StructField("timezone", T.StringType(), True),
    T.StructField("geo_lon", T.DoubleType(), True),
    T.StructField("geo_lat", T.DoubleType(), True),
    T.StructField("geo_alt", T.DoubleType(), True),
    T.StructField("max_of_max_channel_powers", T.ArrayType(T.DoubleType()), True),
    T.StructField("median_of_mean_channel_powers", T.ArrayType(T.DoubleType()), True),
    T.StructField("mean_channel_powers", T.ArrayType(T.DoubleType()), True),
    T.StructField("median_channel_powers", T.ArrayType(T.DoubleType()), True),
    T.StructField("extras", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("error", T.StringType(), True),
])

# the one-pass ingest stage's rows: source_file, a row_kind of 'trace' |
# 'channel' | 'sweep', every column of the three schemas once (datetime,
# frequency and extras are shared), error. A quarantine row carries only
# source_file and error (row_kind null).
_PAYLOAD = {f.name: f for s in (TRACE_SCHEMA, CHANNEL_META_SCHEMA,
                                SWEEP_META_SCHEMA)
            for f in s.fields[1:-1]}
_DECODE_SCHEMA = T.StructType(
    [TRACE_SCHEMA["source_file"],
     T.StructField("row_kind", T.StringType(), True),
     *_PAYLOAD.values(), TRACE_SCHEMA["error"]])

_CH_CORE = [f.name for f in CHANNEL_META_SCHEMA.fields
            if f.name not in ("source_file", "extras", "error")]
_SWEEP_CORE = [f.name for f in SWEEP_META_SCHEMA.fields
               if f.name not in ("source_file", "extras", "error")]
_SWEEP_ARRAYS = {"max_of_max_channel_powers", "median_of_mean_channel_powers",
                 "mean_channel_powers", "median_channel_powers"}


# --------------------------------------------------------------------------
# listing (S8/S9/S10 analogs)
# --------------------------------------------------------------------------

def _natural_key(name: str):
    """Digit-aware sort key (reference natsorted listing, ziparchive.py:151)."""
    import re
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


def list_sigmf_refs(spark: SparkSession, paths: str | list[str],
                    allow: int | None = None,
                    batch_size: int | None = None) -> DataFrame:
    """Enumerate ``.sigmf`` files (plain files, directories, or zip archives)
    into a file-ref DataFrame, natural-sorted, batched into partitions.

    ``allow`` keeps only the first N refs (reference ``allow=int`` gate,
    ``ziparchive.py:410-412``).

    ``batch_size=None`` (default) sizes partitions for the session's
    parallelism (one partition per default-parallelism slot, ≥4 refs
    each): a fixed batch size either starves a wide cluster (200 files /
    64 = 4 tasks on 32 cores) or drowns a narrow one in task overhead.
    Pass an explicit ``batch_size`` to pin refs-per-partition instead —
    partial reads (`limit`/`head`) decode one partition at minimum, so
    finer batches also make them cheaper.
    """
    if isinstance(paths, str):
        paths = [paths]
    refs: list[tuple[str, str | None, int]] = []
    for p in paths:
        if os.path.isdir(p):
            for f in sorted(glob.glob(os.path.join(p, "**", "*.sigmf"),
                                      recursive=True), key=_natural_key):
                refs.append((f, None, os.path.getsize(f)))
        elif p.endswith(".zip"):
            with zipfile.ZipFile(p) as z:          # central dir read ONCE
                members = [i for i in z.infolist()
                           if i.filename.endswith(".sigmf")]
            members.sort(key=lambda i: _natural_key(i.filename))
            refs.extend((p, i.filename, i.file_size) for i in members)
        else:
            refs.append((p, None,
                         os.path.getsize(p) if os.path.exists(p) else None))
    if allow is not None:
        refs = refs[:allow]
    if batch_size is None:
        par = spark.sparkContext.defaultParallelism
        n_part = max(1, min(len(refs) // 4 or 1, par))
    else:
        n_part = max(1, (len(refs) + batch_size - 1) // batch_size)
    # Arrow path (pandas → LocalTableScan): a plain Python list would become
    # a Python-RDD that runs a Python task per partition on EVERY action —
    # measured ~0.5-1 s/task of pure overhead under pyspark's own daemon.
    # Local sessions now fork workers from the package's daemon (about
    # 0.005 s/task, session.py); other masters keep pyspark's, which
    # starts before a task's --py-files, so there the cost stays.
    pdf = pd.DataFrame(refs, columns=["path", "member", "size"])
    pdf["seq"] = range(len(pdf))
    schema = T.StructType(REF_SCHEMA.fields
                          + [T.StructField("seq", T.LongType(), False)])
    df = spark.createDataFrame(pdf, schema)
    # range-partition on the listing sequence: batches stay CONTIGUOUS
    # natural-sort runs (S9 ordering contract — collect() returns refs in
    # listing order; a round-robin repartition would interleave them).
    # The within-partition sort is required: a range reduce partition can
    # fetch from multiple map chunks in nondeterministic order on a real
    # cluster; rangepartitioning alone only bounds the ranges.
    return (df.repartitionByRange(n_part, "seq")
              .sortWithinPartitions("seq").drop("seq"))


def _open_ref(zcache: dict, path: str, member: str | None) -> bytes:
    if member is None:
        with open(path, "rb") as f:
            return f.read()
    z = zcache.get(path)
    if z is None:
        z = zcache[path] = zipfile.ZipFile(path)
    return z.read(member)


def _ref_name(path: str, member: str | None) -> str:
    return path if member is None else f"{path}::{member}"


# --------------------------------------------------------------------------
# decode stages (mapInPandas)
# --------------------------------------------------------------------------

def _each_file(batch: pd.DataFrame, zcache: dict, decode, **kw):
    """Per file of a ref batch (``path``, ``member``) or a binaryFile
    batch (``path``, ``content``): ``(source, decode(raw, source=...,
    **kw), None)``, or ``(source, None, "<Type>: <msg>")`` when reading or
    decoding the file raises."""
    by_content = "content" in batch.columns
    for path, x in zip(batch["path"],
                       batch["content" if by_content else "member"]):
        src = path if by_content else _ref_name(path, x)
        try:
            raw = bytes(x) if by_content else _open_ref(zcache, path, x)
            out, err = decode(raw, source=src, **kw), None
        except Exception as e:  # noqa: BLE001 — the caller's rule decides
            out, err = None, f"{type(e).__name__}: {e}"
        yield src, out, err


def _timestamp_cols(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields
            if isinstance(f.dataType, T.TimestampType)]


def _as_utc(pdf: pd.DataFrame, names: list[str]) -> pd.DataFrame:
    """``pdf`` with its timestamp columns ``names`` UTC-aware: naive ones
    are UTC, as the decode means them (an aware one keeps its instant).
    Spark reads a naive datetime from pandas as wall-clock time in
    ``spark.sql.session.timeZone``, so under any other zone every instant
    would shift by the zone's offset."""
    for c in names:
        pdf[c] = pd.DatetimeIndex(
            np.array(pdf[c], "datetime64[us]")).tz_localize("UTC")
    return pdf


def _decode_stage(files: DataFrame, schema: T.StructType, decode,
                  **kw) -> DataFrame:
    """``mapInPandas`` over ``_each_file``, whose ``decode`` returns a list
    of ``schema`` rows per file; a failed file becomes one quarantine row:
    the source, nulls, and the error text in the last column (S15).
    Timestamps go to Spark UTC-aware (``_as_utc``), so every session time
    zone stores the same instants, the ones ``ingest()`` stores. Each use
    is one Python stage, with the per-task cost the module docstring
    gives."""
    cols = [f.name for f in schema.fields]
    n_fill = len(cols) - 2
    stamps = _timestamp_cols(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zcache: dict = {}
        for b in batches:
            recs = []
            for src, rows, err in _each_file(b, zcache, decode, **kw):
                if err is None:
                    recs.extend(rows)
                else:
                    recs.append((src, *([None] * n_fill), err))
            yield _as_utc(pd.DataFrame(recs, columns=cols), stamps)

    return files.mapInPandas(run, schema)


def decode_dir(spark: SparkSession, path: str, tz: str | None = None,
               hash_check: bool = True) -> DataFrame:
    """Batch decode of loose ``.sigmf`` files via the ``binaryFile``
    source — the cluster-scale listing path (SCALE.md §1): file discovery
    is Spark's own distributed file index, no driver-side zip machinery,
    and the source splits/parallelizes by file size. The decode is the
    same quarantine stage ``decode_traces`` and the streaming ingest run,
    fed the file bytes from the ``content`` column, so output schema,
    rows and error text match ``decode_traces`` (``source_file`` is the
    source's ``file:`` URI).
    """
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.sigmf")
           .load(path).select("path", "content"))
    return _decode_stage(raw, TRACE_SCHEMA, decode_sigmf_trace_records,
                         tz=tz, hash_check=hash_check)


def decode_traces(refs: DataFrame, tz: str | None = None,
                  hash_check: bool = True) -> DataFrame:
    """Full decode of every ref into long-format trace rows (one row per
    per-capture trace, ``values`` = float32 array). Failures become rows
    with ``error`` set and null payload (quarantine, S15)."""
    return _decode_stage(refs, TRACE_SCHEMA, decode_sigmf_trace_records,
                         tz=tz, hash_check=hash_check)


def map_decoded_partitions(refs: DataFrame, partition_func,
                           tz: str | None = None, hash_check: bool = True,
                           errors: str = "log") -> dict[str, DataFrame]:
    """The reference's ``partition_func`` hook (``ziparchive.py:210-273``,
    used in ``demos/dask_processing.ipynb`` cell 3): per ref batch, decode
    each file with ``decode_sigmf`` (``_each_file``), concatenate the
    frames into one dict (``ziparchive.py:195-204``), apply
    ``partition_func(dict) -> dict``, and expose every frame-valued key of
    the result as a lazy Spark DataFrame. A failed file is dropped
    (``errors='log'``) or raises ``decode failed for <source>: <error>``
    when its batch computes (``errors='raise'``).

    Output schemas are discovered by a driver-side probe — decode the first
    readable ref of the first 8 (~ms, payload included; failed refs are
    skipped in both modes) and run ``partition_func`` on it — the Spark
    analog of the reference's first-partition divisions/meta probe
    (SURVEY.md S12–S13, ``ziparchive.py:281-316``): here it is needed only
    when a user hook makes the schema dynamic.

    Like the reference's dict-of-ddfs, each returned DataFrame re-runs the
    decode when computed separately; persist the inputs or compute the dict
    in one action-shaped job if that matters.
    """
    spark = refs.sparkSession
    kw = dict(tz=tz, hash_check=hash_check)
    head = pd.DataFrame(refs.select("path", "member").limit(8)
                        .collect(), columns=["path", "member"])
    zcache: dict = {}
    first = next((d for _, d, err in _each_file(head, zcache, decode_sigmf,
                                                **kw) if err is None), None)
    for z in zcache.values():
        z.close()
    if first is None:
        raise RuntimeError("no readable ref to probe partition_func schema")
    probe = partition_func(first)
    if not isinstance(probe, dict):
        raise ValueError("partition_func must return a dict")

    out: dict[str, DataFrame] = {}
    for key, pdf in probe.items():
        if not isinstance(pdf, pd.DataFrame):
            continue  # reference keeps scalar/dict values driver-side
        schema = spark.createDataFrame(pdf.head(10)).schema
        cols = [f.name for f in schema.fields]
        stamps = _timestamp_cols(schema)

        def run(batches: Iterator[pd.DataFrame], _key=key, _cols=cols,
                _stamps=stamps) -> Iterator[pd.DataFrame]:
            zc: dict = {}
            for b in batches:
                dicts = []
                for src, d, err in _each_file(b, zc, decode_sigmf, **kw):
                    if err is None:
                        dicts.append(d)
                    elif errors == "raise":
                        raise RuntimeError(f"decode failed for {src}: {err}")
                if not dicts:
                    continue
                r = partition_func({
                    k: pd.concat([d[k] for d in dicts if k in d],
                                 ignore_index=True)
                    for k in {k for d in dicts for k in d}})
                if not isinstance(r, dict):
                    raise ValueError("partition_func must return a dict")
                got = r.get(_key)
                if got is not None and len(got):
                    yield _as_utc(got[_cols].copy(), _stamps)

        out[key] = refs.mapInPandas(run, schema)
    return out


PARTITION_SINK_SCHEMA = T.StructType([
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("out_file", T.StringType(), True),
])


def write_partitions(df: DataFrame, write_fn, path: str) -> pd.DataFrame:
    """Side-effecting custom sink — the reference's
    ``ddf.map_partitions(write_fn, path)`` pattern (pickle/zstd sinks in
    ``demos/dask_processing.ipynb`` cell 8). ``write_fn(pdf, path,
    partition_id) -> str | None`` runs once per partition on the executor
    and returns the file it wrote; the returned pandas frame is the
    structured write log (partition_id, n_rows, out_file).

    For formats Spark writes natively, prefer ``df.write`` — this hook is
    for sinks Spark has no writer for.
    """
    from pyspark import TaskContext

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        parts = [b for b in batches if len(b)]
        pdf = pd.concat(parts, ignore_index=True) if parts \
            else pd.DataFrame()
        out = write_fn(pdf, path, pid) if len(pdf) else None
        yield pd.DataFrame([(pid, len(pdf), out)],
                           columns=[f.name for f in
                                    PARTITION_SINK_SCHEMA.fields])

    log = df.mapInPandas(run, PARTITION_SINK_SCHEMA).toPandas()
    return log.sort_values("partition_id", ignore_index=True)


def _channel_rows(plan, source: str) -> list[tuple]:
    """A planned file's channel_metadata rows (CHANNEL_META_SCHEMA order)."""
    rows = []
    for row in plan.channel_meta.values():
        core = {c: row.get(c) for c in _CH_CORE}
        core["datetime"] = _ts(core["datetime"])
        core["cal_datetime"] = _ts(core.get("cal_datetime"))
        ov = core.get("overload")
        core["overload"] = bool(ov) if ov is not None else None
        pre = core.get("sigan_preamp_enable")
        core["sigan_preamp_enable"] = bool(pre) if pre is not None else None
        extras = {k: str(v) for k, v in row.items() if k not in _CH_CORE}
        rows.append((source, *[core[c] for c in _CH_CORE], extras or None,
                     None))
    return rows


def _sweep_rows(plan, source: str) -> list[tuple]:
    """A planned file's one sweep_metadata row (SWEEP_META_SCHEMA order)."""
    sm = dict(plan.sweep_meta)
    sm["timezone"] = plan.timezone
    core = {}
    for c in _SWEEP_CORE:
        v = sm.get(c)
        if c.endswith("datetime"):
            v = _ts(v)
        elif c in _SWEEP_ARRAYS and v is not None:
            v = [float(x) for x in v]
        elif c in ("sample_rate", "schedule_interval", "geo_lon", "geo_lat",
                   "geo_alt") and v is not None:
            v = float(v)
        elif c == "task" and v is not None:
            v = int(v)
        core[c] = v
    extras = {k: str(v) for k, v in sm.items() if k not in _SWEEP_CORE}
    return [(source, *[core[c] for c in _SWEEP_CORE], extras or None, None)]


def _ts(v):
    return pd.Timestamp(v) if v is not None else None


def _meta_rows(raw: bytes, source: str, tz: str | None, hash_check: bool,
               sweep: bool) -> list[tuple]:
    """The channel_metadata rows, or the one sweep_metadata row, of one
    file via the payload-skipping fast path (S14)."""
    plan = decode_sigmf_meta(raw, tz=tz, hash_check=hash_check)["plan"]
    return (_sweep_rows if sweep else _channel_rows)(plan, source)


def decode_channel_metadata(refs: DataFrame, tz: str | None = None,
                            hash_check: bool = False) -> DataFrame:
    """Per-capture metadata rows via metadata-only parse (no LZMA)."""
    return _decode_stage(refs, CHANNEL_META_SCHEMA, _meta_rows, tz=tz,
                         hash_check=hash_check, sweep=False)


def decode_sweep_metadata(refs: DataFrame, tz: str | None = None,
                          hash_check: bool = False) -> DataFrame:
    """One metadata row per file via metadata-only parse (no LZMA)."""
    return _decode_stage(refs, SWEEP_META_SCHEMA, _meta_rows, tz=tz,
                         hash_check=hash_check, sweep=True)


def _widener(kind: str, schema: T.StructType):
    """Map a ``schema``-ordered success row to a _DECODE_SCHEMA row."""
    names = [f.name for f in _DECODE_SCHEMA.fields]
    pos = [names.index(f.name) for f in schema.fields[1:-1]]

    def widen(row: tuple) -> list:
        out = [None] * len(names)
        out[0], out[1] = row[0], kind
        for p, v in zip(pos, row[1:-1]):
            out[p] = v
        return out
    return widen


_AS_TRACE = _widener("trace", TRACE_SCHEMA)
_AS_CHANNEL = _widener("channel", CHANNEL_META_SCHEMA)
_AS_SWEEP = _widener("sweep", SWEEP_META_SCHEMA)


def _file_tables(raw: bytes, source: str, tz: str | None,
                 hash_check: bool) -> tuple:
    """One file's rows from ONE decode: verify, decompress and plan once,
    then (its trace tuples by table, its channel rows, its sweep row) of
    that one plan. Whatever raises raises before any row is returned, so a
    failed file has no row in any table."""
    plan, payload = _planned(raw, tz, hash_check)
    return (_trace_tuples(plan, payload, source),
            _channel_rows(plan, source), _sweep_rows(plan, source))


def _file_rows(raw: bytes, source: str, tz: str | None,
               hash_check: bool) -> list[list]:
    """Every _DECODE_SCHEMA row of one file (``_file_tables``), or none."""
    traces, channel, sweep = _file_tables(raw, source, tz, hash_check)
    rows = [_AS_TRACE(t) for table in traces.values() for t in table]
    rows += map(_AS_CHANNEL, channel)
    rows += map(_AS_SWEEP, sweep)
    return rows


def _decode_files(refs: DataFrame, tz: str | None = None,
                  hash_check: bool = True) -> DataFrame:
    """The one-pass decode: _DECODE_SCHEMA rows of every ref — its trace,
    channel and sweep rows, or its one quarantine row."""
    return _decode_stage(refs, _DECODE_SCHEMA, _file_rows, tz=tz,
                         hash_check=hash_check)


def _rows_of(decoded: DataFrame, kind: str,
             schema: T.StructType) -> DataFrame:
    """One row kind of a one-pass frame, in ``schema``'s columns less
    ``error`` (null on every success row)."""
    return (decoded.where(F.col("row_kind") == kind)
            .select(*[f.name for f in schema.fields[:-1]]))


# --------------------------------------------------------------------------
# ingest job: decode → partitioned parquet warehouse
# --------------------------------------------------------------------------

_QUARANTINE_SCHEMA = T.StructType([TRACE_SCHEMA["source_file"],
                                   TRACE_SCHEMA["error"]])

# the four tables ingest() writes: (the Spark schema its rows are built in,
# its partition columns, the Arrow schema of its data files: the Spark
# schema less the partition columns and, but for the quarantine, ``error``)
_TABLES = {
    name: (schema, parts, to_arrow_schema(T.StructType(
        [f for f in schema.fields if f.name not in parts
         and (f.name != "error" or name == "quarantine")])))
    for name, schema, parts in (
        ("traces", TRACE_SCHEMA, ("table", "date")),
        ("channel_metadata", CHANNEL_META_SCHEMA, ("date",)),
        ("sweep_metadata", SWEEP_META_SCHEMA, ()),
        ("quarantine", _QUARANTINE_SCHEMA, ()))}

# the stage's rows: a staged file (table, its path under the table), a
# failed file (its source) or a batch (its ref count)
_STAGED_SCHEMA = T.StructType([
    T.StructField("table", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("failed", T.StringType(), True),
    T.StructField("n_files", T.LongType(), True),
])

_BLOCK_BYTES = 128 << 20    # parquet-mr's default row-group size


def _arrow_rows(rows: list[tuple], table: str) -> pa.Table:
    """Row tuples in ``table``'s Spark schema order as an Arrow table of
    its data-file columns. Trace arrays (float32 numpy) go in as one
    buffer; naive timestamps are UTC, as the decode emits them."""
    spark_schema, _, schema = _TABLES[table]
    cols = dict(zip(spark_schema.names, zip(*rows)))
    arrays = []
    for f in schema:
        col = cols[f.name]
        if f.name == "values":
            offsets = np.zeros(len(col) + 1, np.int32)
            np.cumsum([len(v) for v in col], out=offsets[1:])
            arrays.append(pa.ListArray.from_arrays(
                offsets, np.concatenate(col), type=f.type))
        elif pa.types.is_timestamp(f.type):
            us = np.array(col, "datetime64[us]")
            arrays.append(pa.array(us, mask=np.isnat(us)).cast(f.type))
        else:
            arrays.append(pa.array(col, f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def _date_runs(tbl: pa.Table, tz: str) -> Iterator[tuple[str, pa.Table]]:
    """``tbl`` sorted by (datetime, frequency) — stable, nulls first, as
    Spark's ascending sort — split into its ``date`` partitions: the date
    of ``datetime`` in the session time zone ``tz``, as ``F.to_date``
    gives it (the date never falls as the instant rises, so each
    partition is one run of the sorted rows)."""
    tbl = tbl.sort_by([("datetime", "ascending"), ("frequency", "ascending")],
                      null_placement="at_start")
    dates = pc.cast(pc.local_timestamp(
        tbl["datetime"].cast(pa.timestamp("us", tz))), pa.date32())
    for d in pc.unique(dates).to_pylist():
        keep = pc.is_null(dates) if d is None else pc.equal(dates, d)
        yield ("__HIVE_DEFAULT_PARTITION__" if d is None else d.isoformat(),
               tbl.filter(keep))


def _write_parquet(tbl: pa.Table, path: str) -> None:
    """One parquet file as the warehouse stores it: Spark's default codec,
    the page index parquet-mr writes for page pruning, no Arrow schema
    blob in the footer, and row groups near parquet-mr's block size so a
    large file still splits for readers."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy", write_page_index=True,
                   store_schema=False, row_group_size=max(
                       1, tbl.num_rows * _BLOCK_BYTES // max(tbl.nbytes, 1)))


def _stage_tables(refs: DataFrame, staging: str, tz: str | None,
                  hash_check: bool, session_tz: str) -> DataFrame:
    """The ingest stage: per ref batch, decode each file once
    (``_file_tables``) and write one parquet file per (table, partition)
    under ``staging/<table>/`` from this task; yield only _STAGED_SCHEMA
    rows. A file name carries a fresh uuid, so a retried or speculative
    attempt never overwrites a file another attempt reports."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task = TaskContext.get().partitionId()
        zcache: dict = {}
        n_out = 0
        for b in batches:
            traces: dict[str, list] = {t: [] for t in TRACE_TABLES}
            channel, sweep, failed = [], [], []
            for src, got, err in _each_file(b, zcache, _file_tables, tz=tz,
                                            hash_check=hash_check):
                if err is not None:
                    failed.append((src, err))
                    continue
                for t, rows in got[0].items():
                    traces[t] += rows
                channel += got[1]
                sweep += got[2]
            groups = [("traces", f"table={t}", rows)
                      for t, rows in traces.items()]
            groups += [("channel_metadata", "", channel),
                       ("sweep_metadata", "", sweep),
                       ("quarantine", "", failed)]
            recs = []
            for table, sub, rows in groups:
                if not rows:
                    continue
                tbl = _arrow_rows(rows, table)
                runs = (_date_runs(tbl, session_tz)
                        if "date" in _TABLES[table][1] else [(None, tbl)])
                for date, part in runs:
                    rel = os.path.join(
                        sub, "" if date is None else f"date={date}",
                        f"part-{task:05d}-{uuid.uuid4()}-c{n_out:03d}"
                        ".snappy.parquet")
                    _write_parquet(part, os.path.join(staging, table, rel))
                    n_out += 1
                    recs.append((table, rel, None, None))
            recs += [(None, None, src, None) for src, _ in failed]
            recs.append((None, None, None, len(b)))
            yield pd.DataFrame(recs, columns=_STAGED_SCHEMA.names)

    return refs.mapInPandas(run, _STAGED_SCHEMA)


def _assemble(staging: str, table: str, files: list[str]) -> str:
    """A new ``table`` directory under ``staging`` holding exactly
    ``files`` (paths under ``staging/<table>``) and ``_SUCCESS``. With no
    file, one empty file of the table's schema, partition columns
    included, so the table still reads (Spark's writer leaves one for an
    unpartitioned table)."""
    new = os.path.join(staging, "_commit", table)
    os.makedirs(new)
    for rel in files:
        os.makedirs(os.path.dirname(os.path.join(new, rel)), exist_ok=True)
        os.rename(os.path.join(staging, table, rel), os.path.join(new, rel))
    if not files:
        _, parts, schema = _TABLES[table]
        for c in parts:
            schema = schema.append(
                pa.field(c, pa.date32() if c == "date" else pa.string()))
        _write_parquet(schema.empty_table(), os.path.join(
            new, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"))
    open(os.path.join(new, "_SUCCESS"), "wb").close()
    return new


def ingest(spark: SparkSession, paths: str | list[str], out_dir: str,
           tz: str | None = None, hash_check: bool = True,
           allow: int | None = None,
           batch_size: int | None = None) -> dict[str, str]:
    """End-to-end ingest: list → decode → write.

    Output layout (the Dask divisions/1-day-repartition analog, §1.5):

    - ``{out}/traces``            partitioned by (table, date), rows sorted
      within files by (datetime, frequency) for min/max-stat row pruning
    - ``{out}/channel_metadata``  partitioned by date, sorted the same way
    - ``{out}/sweep_metadata``    one file-level row each
    - ``{out}/quarantine``        refs that failed decode, with the error
    - ``{out}/ingest_log``        one appended row of counts per run

    ``date`` is the capture's date in ``spark.sql.session.timeZone``.

    One Python stage does the work (``_stage_tables``): each task decodes
    its files once and writes all four tables' parquet files with pyarrow
    — one file per (table, partition) per batch, as Spark's
    dynamic-partition writer leaves them — under
    ``{out}/_staging-<uuid>``, and returns only their paths, the failed
    sources and its file count. A file that fails any step of its decode
    has only its quarantine row. The driver collects those rows once,
    assembles each table from exactly the files they name (plus
    ``_SUCCESS``; one empty file of the table's schema when no task wrote
    one), then swaps the four into place, and removes the staging
    directory on every exit, so files of a failed or speculative attempt
    go with it. The trace arrays never
    enter the JVM, which spent most of an ingest's CPU taking them in and
    re-encoding them with parquet-mr (the module docstring has the
    numbers).

    Tasks write to ``out_dir`` with plain file I/O, so it must be a local
    path every executor sees (as the listing requires of ``paths``).

    Returns {logical name: path}.
    """
    if "://" in out_dir or out_dir.startswith("file:"):
        raise ValueError(f"ingest() writes to a local path, got {out_dir!r}")
    refs = list_sigmf_refs(spark, paths, allow=allow, batch_size=batch_size)
    staging = os.path.join(out_dir, f"_staging-{uuid.uuid4()}")
    os.makedirs(staging)
    try:
        staged = _stage_tables(
            refs, staging, tz, hash_check,
            spark.conf.get("spark.sql.session.timeZone")).collect()
        new = {t: _assemble(staging, t, [r.path for r in staged
                                         if r.table == t]) for t in _TABLES}
        out = {}
        for table, path in new.items():
            out[table] = os.path.join(out_dir, table)
            if os.path.isdir(out[table]):
                shutil.rmtree(out[table])
            os.rename(path, out[table])
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    n_files = sum(r.n_files for r in staged if r.n_files is not None)
    n_bad = len({r.failed for r in staged if r.failed is not None})

    # structured run log (S16 analog of the reference's eliot JSON sink):
    # one row per ingest run with the counts an operator monitors
    log_path = out["ingest_log"] = os.path.join(out_dir, "ingest_log")
    log_df = spark.createDataFrame(
        pd.DataFrame([{
            "run_at": pd.Timestamp.now("UTC"),
            "n_files": n_files,
            "n_quarantined": n_bad,
            "n_ok": n_files - n_bad,
            "out_dir": out_dir,
        }]))
    log_df.write.mode("append").parquet(log_path)
    return out


def read_product(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Open one ingested data-product table (psd/pvt/pfp/apd/apd_raw) with
    partition pruning on ``table`` and ``date``."""
    df = spark.read.parquet(os.path.join(out_dir, "traces"))
    return df.where(F.col("table") == table).drop("table")


# --------------------------------------------------------------------------
# warehouse maintenance: small-file compaction
# --------------------------------------------------------------------------

def backfill_partitions(df: DataFrame, dataset_dir: str,
                        partition_cols: "list[str] | None" = None) -> None:
    """Idempotent late-data backfill: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched (dynamic partition
    overwrite — the MERGE-less upsert of a plain-parquet warehouse).

    The reference reprocesses whole archives when sensors re-upload
    corrected sweeps; at 100 TB rewriting the dataset for one late day is
    absurd, and appending would duplicate the day. Dynamic overwrite
    rewrites exactly the (table, date) leaves the correction touches:
    cost scales with the size of the correction, re-running the same
    backfill is a no-op, and readers see whole partitions swap.

    ``df`` must carry the dataset's partition columns (default
    ``[table, date]`` when present, else ``[date]``).
    """
    if partition_cols is None:
        partition_cols = [c for c in ("table", "date") if c in df.columns]
        if not partition_cols:
            raise ValueError("df carries no partition columns")
    sort_cols = [c for c in ("datetime", "frequency") if c in df.columns]
    if sort_cols:
        # led by the partition columns: Spark's partitioned writer sorts by
        # them and replaces a sort that does not start with them
        df = df.sortWithinPartitions(*partition_cols, *sort_cols)
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols).parquet(dataset_dir))


def compact_warehouse(spark: SparkSession, dataset_dir: str,
                      target_file_bytes: int = 128 << 20,
                      sort_cols: "list[str] | None" = None) -> pd.DataFrame:
    """Compact a partitioned parquet dataset's small files in place.

    Streaming ingest appends one file set per micro-batch — at a ~90 s
    sensor cadence that is ~1k files/partition/day, and at 100 TB the file
    count (not the bytes) becomes the scan bottleneck (driver listing +
    one task per tiny file). This walks each leaf partition directory,
    and where it holds more files than ``ceil(bytes / target_file_bytes)``
    rewrites it to that many files (sorted by ``sort_cols`` — default
    (datetime, frequency) when present — to restore min/max-stat pruning),
    then atomically swaps the directory. Untouched partitions are skipped,
    so the job is incremental and re-runnable.

    The swap is two ``os.rename`` calls — atomic on POSIX/HDFS; on object
    stores run per-partition-idle (the streaming writer targets *today's*
    partition, compaction targets closed ones) or use a table format with
    commit semantics.

    Returns a log frame (partition, n_files_before, n_files_after, bytes).
    """
    import math

    leaves: list[str] = []
    for root, dirs, files in os.walk(dataset_dir):
        if any(f.endswith(".parquet") for f in files) \
                and "_tmp_compact" not in root and "_old_compact" not in root:
            leaves.append(root)

    log = []
    for leaf in sorted(leaves):
        parts = [os.path.join(leaf, f) for f in os.listdir(leaf)
                 if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in parts)
        k = max(1, math.ceil(nbytes / target_file_bytes))
        if len(parts) <= k:
            log.append((os.path.relpath(leaf, dataset_dir),
                        len(parts), len(parts), nbytes))
            continue
        df = spark.read.parquet(leaf)
        sort_by = sort_cols or [c for c in ("datetime", "frequency")
                                if c in df.columns]
        out = df.coalesce(k)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        tmp = leaf + "_tmp_compact"
        out.write.mode("overwrite").parquet(tmp)
        old = leaf + "_old_compact"
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        log.append((os.path.relpath(leaf, dataset_dir), len(parts), k,
                    nbytes))
    return pd.DataFrame(log, columns=["partition", "n_files_before",
                                      "n_files_after", "bytes"])
