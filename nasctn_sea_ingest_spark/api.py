"""Reference-shaped public API (`sea_ingest`'s entry points re-expressed;
reference surface at ``src/sea_ingest/__init__.py:40``):

==============================  =============================================
reference                       here
==============================  =============================================
``read_seamf(file)``            :func:`read_seamf` — dict of pandas frames
``read_seamf_meta(file)``       :func:`read_seamf_meta`
``read_seamf_zipfile(zip)``     :func:`read_seamf_zipfile` — eager pandas
``read_seamf_zipfile_as_ddf``   :func:`read_seamf_zipfile_as_sdf` — dict of
                                lazy *Spark* DataFrames, one per product
``..._as_delayed(zip)``         :func:`read_seamf_zipfile_as_delayed` — list
                                of per-partition lazy reads + ``compute``
``restore_multiindex(dfs)``     :func:`restore_multiindex`
``trace(dfs, name, ...)``       :func:`nasctn_sea_ingest_spark.functions.trace`
``localize_timestamps``         :func:`nasctn_sea_ingest_spark.functions.localize`
==============================  =============================================

Every reader here runs batch ingest's one-pass decode (``_decode_files``:
the trace, channel and sweep rows of each file from one decode, or only
its quarantine row), so one rule decides what a failed file contributes:
nothing under ``errors='log'``, a ``decode failed for <file>`` error under
``errors='raise'``. The Dask dict-of-ddf shape is kept: one lazy DataFrame
per data product over that decode, nothing cached, so each product action
re-decodes like the reference's dict of ddfs. The eager entry points —
``read_seamf_zipfile`` and each delayed ``compute()`` — collect the same
decode in a single job. A metadata-only read skips the payload through
``sources.ingest``'s two metadata stages instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql import types as T

from .sources.ingest import (
    CHANNEL_META_SCHEMA,
    SWEEP_META_SCHEMA,
    TRACE_SCHEMA,
    _decode_files,
    _rows_of,
    _timestamp_cols,
    list_sigmf_refs,
    map_decoded_partitions,
    write_partitions,
)
from .sources.sigmf import decode_sigmf, decode_sigmf_meta
# re-exports matching the reference's public __all__ (sea_ingest
# __init__.py:31-37: trace, localize_timestamps)
from .functions import trace  # noqa: F401
from .functions import localize as localize_timestamps  # noqa: F401

__all__ = ["read_seamf", "read_seamf_meta", "read_seamf_zipfile",
           "read_seamf_zipfile_as_sdf", "read_seamf_zipfile_as_delayed",
           "compute", "restore_multiindex", "as_wide", "write_partitions",
           "trace", "localize_timestamps"]

_PRODUCTS = ("psd", "pvt", "pfp", "apd", "apd_raw")

_KEY_LEVELS = {
    "psd": ["datetime", "frequency", "capture_statistic"],
    "pvt": ["datetime", "frequency", "detector"],
    "pfp": ["datetime", "frequency", "capture_statistic", "detector"],
    "apd": ["datetime", "frequency"],
}


def as_wide(table: pd.DataFrame, name: str) -> pd.DataFrame:
    """Long → the reference's wide matrix shape: MultiIndex rows of the
    table's key levels, columns = physical x-axis values, cells = trace
    values (reference layout per SURVEY.md §1.2 — lets users diff outputs
    against ``sea_ingest`` frame-for-frame)."""
    import numpy as np
    levels = _KEY_LEVELS[name]
    t = table.sort_values(levels, kind="stable")
    mat = np.stack([np.asarray(v, dtype=np.float32) for v in t["values"]])
    x0, dx = float(t["x_start"].iloc[0]), float(t["x_step"].iloc[0])
    cols = x0 + dx * np.arange(mat.shape[1])
    idx = pd.MultiIndex.from_frame(t[levels])
    return pd.DataFrame(mat, index=idx, columns=cols)


def read_seamf(file, tz: str | None = None, hash_check: bool = True,
               unpack: str = "frames") -> dict:
    """Single-file decode to a dict of pandas frames (long format: key
    columns + ``values`` array instead of the reference's wide MultiIndex).
    ``unpack`` selects the output tier like the reference's
    ``force_loader_cls``: ``frames`` | ``arrays`` | ``bytes``."""
    return decode_sigmf(file, tz=tz, hash_check=hash_check, unpack=unpack)


def read_seamf_meta(file, tz: str | None = None) -> dict:
    """Metadata-only fast parse (no payload decompression)."""
    return decode_sigmf_meta(file, tz=tz)


def read_seamf_zipfile(spark: SparkSession, path: str,
                       allow: int | None = None, tz: str | None = None,
                       errors: str = "raise") -> dict[str, pd.DataFrame]:
    """Eager multi-file read: decode the archive on the cluster, collect to
    a dict of pandas frames (reference ``read_seamf_zipfile`` semantics;
    ``errors='raise'`` raises on the first failed file, ``errors='log'``
    drops failed files like the reference's log path).

    It is the same eager read a ``SparkDelayed.compute`` runs: one decode
    collected in one pass, split per table in pandas, nothing cached."""
    if errors not in ("raise", "log"):
        raise ValueError("errors must be 'raise' or 'log'")
    return _collect(list_sigmf_refs(spark, path, allow=allow), tz, errors)


def read_seamf_zipfile_as_sdf(spark: SparkSession, path: str,
                              allow: int | None = None,
                              tz: str | None = None,
                              errors: str = "raise",
                              batch_size: int | None = None,
                              partition_func=None) -> dict[str, DataFrame]:
    """Lazy distributed read: dict of Spark DataFrames keyed per table
    (``psd pvt pfp apd|apd_raw channel_metadata sweep_metadata
    sensor_metadata``), the direct analog of the reference's dict of Dask
    DataFrames.

    Every table reads the one-pass decode, and nothing is cached: each
    action decodes the files it reads, payload included, metadata tables
    too, so a failed file raises (``errors='raise'``, when the action
    runs) or is absent from every table (``errors='log'``). Persist a
    table, or read the metadata through ``decode_channel_metadata`` /
    ``decode_sweep_metadata`` (no payload decompression), where that
    matters.

    ``partition_func`` (reference ``ziparchive.py:210-273``) is a per-batch
    hook ``dict[str, pd.DataFrame] -> dict``: it sees the decoded frames of
    each ref batch and every frame-valued key it returns becomes a lazy
    DataFrame in the result (schemas probed from the first readable file).
    A failed file follows ``errors`` there too.
    """
    if errors not in ("raise", "log"):
        raise ValueError("errors must be 'raise' or 'log'")
    refs = list_sigmf_refs(spark, path, allow=allow, batch_size=batch_size)
    return _sdfs_from_refs(refs, tz=tz, errors=errors,
                           partition_func=partition_func)


def _sdfs_from_refs(refs: DataFrame, tz: str | None, errors: str,
                    partition_func=None) -> dict[str, DataFrame]:
    """Dict-of-lazy-DataFrames from a file-ref frame (shared by the
    zipfile, directory and delayed-batch entry points)."""
    if partition_func is not None:
        return map_decoded_partitions(refs, partition_func, tz=tz,
                                      errors=errors)
    decoded = _decode_files(refs, tz=tz)
    if errors == "raise":
        # LAZY raise (dask parity: the reference's lazy dict raises when a
        # partition computes, not at graph-build time). The check is fused
        # into the columns the table splits filter on (`row_kind`, and
        # `table` for the trace products), so no action drops a failed
        # file's quarantine row without raising. A filter below the splits
        # would not do: the optimizer puts the inferred isnotnull(table)
        # and isnotnull(row_kind) first, and evaluated without whole-stage
        # codegen they drop the quarantine row before the check runs.
        msg = F.concat(F.lit("decode failed for "), F.col("source_file"),
                       F.lit(": "), F.col("error"))
        fail = F.raise_error(msg).cast("string")
        decoded = decoded.withColumns({
            c: F.when(F.col("error").isNull(), F.col(c)).otherwise(fail)
            for c in ("row_kind", "table")})
    traces = _rows_of(decoded, "trace", TRACE_SCHEMA)
    out = {t: traces.where(F.col("table") == t).drop("table")
           for t in _PRODUCTS}
    out["channel_metadata"] = _rows_of(decoded, "channel",
                                       CHANNEL_META_SCHEMA)
    out["sweep_metadata"] = _rows_of(decoded, "sweep", SWEEP_META_SCHEMA)
    # reference read_seamf returns a 7th product key sensor_metadata =
    # {timezone} (seamf.py:231)
    out["sensor_metadata"] = out["sweep_metadata"].select(
        "source_file", "timezone")
    return out


class SparkDelayed:
    """One partition of a delayed archive read: ``.compute()`` decodes just
    this batch of files and returns the dict of pandas frames (reference
    ``read_seamf_zipfile_as_delayed`` semantics, ``ziparchive.py:208-235``:
    each dask.delayed computes to one partition's dict)."""

    def __init__(self, spark: SparkSession, rows, tz, errors, partition_func):
        self._spark, self._rows = spark, rows
        self._tz, self._errors, self._pf = tz, errors, partition_func

    def __len__(self):
        return len(self._rows)

    def _refs(self):
        from .sources.ingest import REF_SCHEMA
        pdf = pd.DataFrame([(r.path, r.member, r.size) for r in self._rows],
                           columns=["path", "member", "size"])
        return self._spark.createDataFrame(pdf, REF_SCHEMA).coalesce(1)

    def compute(self) -> dict[str, pd.DataFrame]:
        refs = self._refs()
        if self._pf is not None:
            sdfs = _sdfs_from_refs(refs, tz=self._tz, errors=self._errors,
                                   partition_func=self._pf)
            return {k: _to_pandas(df) for k, df in sdfs.items()}
        return _collect(refs, self._tz, self._errors)


def _to_pandas(df: DataFrame) -> pd.DataFrame:
    """``df.toPandas()`` with timestamps as the decode gives them, naive
    UTC: ``toPandas`` renders them in the session time zone instead. They
    travel as ``unix_micros``, so no zone's DST hour folds two instants
    into one."""
    stamps = _timestamp_cols(df.schema)
    pdf = df.select(*[F.unix_micros(c).alias(c) if c in stamps else c
                      for c in df.columns]).toPandas()
    for c in stamps:
        pdf[c] = pd.to_datetime(pdf[c], unit="us")
    return pdf


def _collect(refs: DataFrame, tz: str | None,
             errors: str) -> dict[str, pd.DataFrame]:
    """The one eager read: ONE decode pass (batch ingest's one-pass stage,
    one job) collected client-side, split per table in pandas — the
    reference's delayed partition materializes the whole dict the same way
    (ziparchive.py:265-277). A file that fails any step of its decode has
    only its quarantine row, so ``errors='log'`` drops it from every table.
    Nothing is cached."""
    rows = _to_pandas(_decode_files(refs, tz=tz))
    bad = rows["error"].notnull()
    if errors == "raise" and bad.any():
        f = rows.loc[bad].iloc[0]
        raise RuntimeError(
            f"decode failed for {f['source_file']}: {f['error']}")
    good = _kind_frame(rows, "trace", TRACE_SCHEMA)
    out = {t: good.loc[good["table"] == t].drop(columns=["table"])
                  .reset_index(drop=True)
           for t in _PRODUCTS}
    out["channel_metadata"] = _kind_frame(rows, "channel", CHANNEL_META_SCHEMA)
    out["sweep_metadata"] = _kind_frame(rows, "sweep", SWEEP_META_SCHEMA)
    out["sensor_metadata"] = out["sweep_metadata"][["source_file", "timezone"]]
    return out


_NARROW = {T.LongType: "int64", T.BooleanType: "bool"}


def _kind_frame(rows: pd.DataFrame, kind: str,
                schema: T.StructType) -> pd.DataFrame:
    """One row kind of a collected one-pass frame, in ``schema``'s columns
    less ``error``, with the dtypes collecting that table alone gives: a
    long or boolean column, widened by the other kinds' nulls, is narrowed
    back when this kind's rows hold no null."""
    fields = schema.fields[:-1]
    sub = rows.loc[rows["row_kind"] == kind, [f.name for f in fields]] \
        .reset_index(drop=True)
    for f in fields:
        dtype = _NARROW.get(type(f.dataType))
        if dtype and sub[f.name].notna().all():
            sub[f.name] = sub[f.name].astype(dtype)
    return sub


def read_seamf_zipfile_as_delayed(spark: SparkSession, path: str,
                                  partition_func=None,
                                  limit_count: int | None = None,
                                  partition_size: int = 40,
                                  tz: str | None = None,
                                  errors: str = "log") -> list:
    """List of lazy per-partition reads, ``partition_size`` files each —
    the reference's list-of-dask.delayed entry point. ``compute(objs)``
    (or each object's ``.compute()``) yields that partition's dict of
    pandas frames. The listing itself is a driver-side archive scan, the
    same cost the reference pays at graph-build time."""
    rows = list_sigmf_refs(spark, path, allow=limit_count).collect()
    return [SparkDelayed(spark, rows[i:i + partition_size], tz, errors,
                         partition_func)
            for i in range(0, len(rows), max(1, int(partition_size)))]


def compute(delayeds) -> list:
    """dask.compute analog for :class:`SparkDelayed` lists."""
    return [d.compute() for d in delayeds]


_RESTORE_LEVELS = dict(_KEY_LEVELS,
                       channel_metadata=["datetime", "frequency"])


def restore_multiindex(dfs: dict) -> dict:
    """Reference ``restore_multiindex`` (``ziparchive.py:450-458``) for the
    long layout: sets each product table's key levels as a (Multi)Index,
    in place, and returns the dict. ``sweep_metadata`` /
    ``sensor_metadata`` have no datetime index and pass through, like the
    reference's hard-coded skip."""
    for name, df in dfs.items():
        levels = [c for c in _RESTORE_LEVELS.get(name, [])
                  if isinstance(df, pd.DataFrame) and c in df.columns]
        if levels:
            dfs[name] = df.set_index(levels)
    return dfs
