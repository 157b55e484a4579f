"""Distributed ingest tests: listing (files + zip), mapInPandas decode,
quarantine, partitioned warehouse layout, and partition pruning."""

import datetime
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import pyspark.sql.functions as F

from nasctn_sea_ingest_spark.sources.ingest import (
    CHANNEL_META_SCHEMA,
    SWEEP_META_SCHEMA,
    TRACE_SCHEMA,
    _decode_files,
    _rows_of,
    backfill_partitions,
    compact_warehouse,
    decode_channel_metadata,
    decode_dir,
    decode_sweep_metadata,
    decode_traces,
    ingest,
    list_sigmf_refs,
    read_product,
)
from nasctn_sea_ingest_spark.sources.sigmf import decode_sigmf

from nasctn_sea_ingest_spark.sources.synth import PSD_LEN, build_sigmf, build_sweep_series

N_SWEEPS = 6
N_CH = 3
TRACES_PER_SWEEP = N_CH * 11  # 2 psd + 2 pvt + 6 pfp + 1 apd


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    """Landing dir: N loose files + a zip of N more + 2 poisoned files."""
    d = tmp_path_factory.mktemp("landing")
    build_sweep_series(str(d), N_SWEEPS)
    build_sweep_series(str(d), N_SWEEPS, start_iso="2023-09-18T00:00:00.000Z",
                       zip_name="day2.zip")
    (d / "bad_hash.sigmf").write_bytes(build_sigmf(bad_hash=True))
    (d / "truncated.sigmf").write_bytes(build_sigmf(truncate=True))
    return str(d)


@pytest.fixture(scope="module")
def warehouse(spark, landing, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wh"))
    paths = ingest(spark, [landing, os.path.join(landing, "day2.zip")], out)
    return paths


def test_listing(spark, landing):
    refs = list_sigmf_refs(spark, [landing, os.path.join(landing, "day2.zip")])
    rows = refs.collect()
    # 6 loose + 2 poisoned + 6 zip members
    assert len(rows) == N_SWEEPS * 2 + 2
    members = [r.member for r in rows if r.member is not None]
    assert len(members) == N_SWEEPS
    assert all(r.size and r.size > 0 for r in rows)
    # natural-sorted member order
    assert members == sorted(members)


def test_listing_allow_gate(spark, landing):
    refs = list_sigmf_refs(spark, landing, allow=3)
    assert refs.count() == 3


def test_decode_traces_and_quarantine(spark, landing):
    refs = list_sigmf_refs(spark, landing)  # 6 good + 2 poisoned
    tr = decode_traces(refs).cache()
    good = tr.where(F.col("error").isNull())
    bad = tr.where(F.col("error").isNotNull()).collect()
    assert good.count() == N_SWEEPS * TRACES_PER_SWEEP
    assert len(bad) == 2
    errs = {os.path.basename(r.source_file): r.error for r in bad}
    assert "sha512" in errs["bad_hash.sigmf"]
    assert "truncated.sigmf" in errs
    tr.unpersist()


def test_trace_values_match_direct_decode(spark, landing):
    f = os.path.join(landing, "sweep_0001.sigmf")
    refs = list_sigmf_refs(spark, f)
    got = decode_traces(refs).where(
        (F.col("table") == "psd") & (F.col("capture_statistic") == "max")
    ).orderBy("frequency").collect()
    want = decode_sigmf(f)
    w = want["psd"]
    w = w[w["capture_statistic"] == "max"].sort_values("frequency")
    assert len(got) == len(w) == N_CH
    for g, (_, r) in zip(got, w.iterrows()):
        assert len(g["values"]) == PSD_LEN
        assert np.allclose(g["values"], r["values"])


def test_metadata_stages(spark, landing):
    refs = list_sigmf_refs(spark, landing)
    ch = decode_channel_metadata(refs).where(F.col("error").isNull())
    sw = decode_sweep_metadata(refs).where(F.col("error").isNull()).collect()
    # payload-skipping fast path (S14): the 2 payload-corrupt files still
    # parse — whole-file quarantine happens in ingest(), not here
    assert ch.count() == (N_SWEEPS + 2) * N_CH
    assert len(sw) == N_SWEEPS + 2
    row = sw[0]
    assert row.sample_rate == pytest.approx(14e6)
    assert row.timezone == "America/Denver"
    assert row.schedule_interval == 90
    assert len(row.max_of_max_channel_powers) == N_CH
    ch_row = ch.orderBy("datetime", "frequency").first()
    assert ch_row.cal_gain_dB == pytest.approx(29.8)
    assert ch_row.sigan_preamp_enable is True


def test_warehouse_layout(warehouse):
    tr = warehouse["traces"]
    # hive-style (table, date) partition dirs → pruning at the FS level
    tables = {d.split("=")[1] for d in os.listdir(tr) if d.startswith("table=")}
    assert tables == {"psd", "pvt", "pfp", "apd"}
    dates = os.listdir(os.path.join(tr, "table=psd"))
    assert any("2023-09-17" in d for d in dates)
    assert any("2023-09-18" in d for d in dates)


def test_warehouse_counts(spark, warehouse):
    psd = read_product(spark, os.path.dirname(warehouse["traces"]), "psd")
    # 12 good sweeps (6 loose + 6 zipped) × 3 channels × 2 statistics
    assert psd.count() == 12 * N_CH * 2
    q = spark.read.parquet(warehouse["quarantine"])
    assert q.count() == 2
    ch = spark.read.parquet(warehouse["channel_metadata"])
    assert ch.count() == 12 * N_CH
    assert spark.read.parquet(warehouse["sweep_metadata"]).count() == 12


def test_warehouse_metadata_matches_standalone_stages(spark, landing,
                                                      warehouse):
    """Two paths to the same metadata: ingest()'s one-pass decode and the
    standalone payload-skipping stages, restricted to the files ingest did
    not quarantine, give the same rows; no quarantined file reaches either
    metadata table."""
    refs = list_sigmf_refs(spark, [landing, os.path.join(landing, "day2.zip")])
    bad = {r.source_file for r in
           spark.read.parquet(warehouse["quarantine"]).collect()}
    assert len(bad) == 2

    def rows(df):
        return sorted((r.asDict() for r in df.collect()),
                      key=lambda r: (r["source_file"],
                                     r.get("datetime") or 0,
                                     r.get("frequency") or 0))

    for table, stage in (("channel_metadata", decode_channel_metadata),
                         ("sweep_metadata", decode_sweep_metadata)):
        stored = spark.read.parquet(warehouse[table])
        if "date" in stored.columns:
            stored = stored.drop("date")
        alone = (stage(refs).where(F.col("error").isNull()).drop("error")
                 .where(~F.col("source_file").isin(*bad)))
        got, want = rows(stored), rows(alone)
        assert got == want
        assert not bad & {r["source_file"] for r in got}


def test_ingest_job_count(spark, landing, tmp_path):
    """One ingest() over the landing fixture runs 4 Spark jobs: the
    listing's range sample, the shuffle that batches the refs, the
    collect of the stage that decodes and writes all four tables, and the
    log write. A re-added per-file pass or a Spark-side table write adds
    jobs and fails here. No persisted RDD is left behind."""
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = f"ingest-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "ingest job count")
    try:
        ingest(spark, [landing, os.path.join(landing, "day2.zip")],
               str(tmp_path / "wh"))
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_ingest_failure_releases_cache(spark, landing, tmp_path):
    """A write that fails after the decode is persisted still releases
    the cached frame: the output dir sits under a regular file."""
    blocker = tmp_path / "not_a_dir"
    blocker.write_bytes(b"")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        ingest(spark, landing, str(blocker / "wh"))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def _spark_written(refs, out: str) -> None:
    """The four tables as Spark's writer leaves them from the one-pass
    decode: partitioned by (table, date) / date, sorted within files by
    (datetime, frequency) behind the partition columns, as
    ``backfill_partitions`` sorts."""
    decoded = _decode_files(refs)
    for name, kind, schema, parts in (
            ("traces", "trace", TRACE_SCHEMA, ("table", "date")),
            ("channel_metadata", "channel", CHANNEL_META_SCHEMA, ("date",))):
        (_rows_of(decoded, kind, schema)
         .withColumn("date", F.to_date("datetime"))
         .sortWithinPartitions(*parts, "datetime", "frequency")
         .write.partitionBy(*parts).parquet(os.path.join(out, name)))
    _rows_of(decoded, "sweep", SWEEP_META_SCHEMA).write.parquet(
        os.path.join(out, "sweep_metadata"))
    (decoded.where(F.col("error").isNotNull()).select("source_file", "error")
     .write.parquet(os.path.join(out, "quarantine")))


def _stored_rows(path: str) -> tuple:
    """A parquet file's (column names, rows in file order): timestamps as
    UTC microseconds, doubles and float arrays as their bytes."""
    tbl = pq.read_table(path, partitioning=None)
    cols = []
    for col in tbl.columns:
        t = col.type
        if pa.types.is_timestamp(t):
            vals = col.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
        elif pa.types.is_list(t):
            dtype = np.float32 if pa.types.is_float32(t.value_type) \
                else np.float64
            vals = [None if v is None else np.asarray(v, dtype).tobytes()
                    for v in col.to_pylist()]
        elif pa.types.is_floating(t):
            vals = [None if v is None else struct.pack("<d", v)
                    for v in col.to_pylist()]
        elif pa.types.is_map(t):
            vals = [None if v is None else sorted(v) for v in col.to_pylist()]
        else:
            vals = col.to_pylist()
        cols.append(vals)
    return tuple(tbl.column_names), list(zip(*cols))


def _leaves(table_dir: str) -> dict:
    """{leaf dir under the table: its files' ``_stored_rows``, sorted}"""
    out: dict = {}
    for d, _, fs in os.walk(table_dir):
        for f in fs:
            if f.endswith(".parquet"):
                out.setdefault(os.path.relpath(d, table_dir), []).append(
                    _stored_rows(os.path.join(d, f)))
    return {k: sorted(v, key=repr) for k, v in out.items()}


def _assert_sorted_files(table_dir: str) -> None:
    """Each file's rows are sorted by (datetime, frequency)."""
    for files in _leaves(table_dir).values():
        for names, rows in files:
            i, j = names.index("datetime"), names.index("frequency")
            keys = [(r[i], struct.unpack("<d", r[j])[0]) for r in rows]
            assert keys == sorted(keys), table_dir


def test_ingest_matches_spark_writer(spark, landing, warehouse, tmp_path):
    """ingest() writes with pyarrow from its decode tasks; Spark's writer
    over the same one-pass decode leaves the same warehouse: the same
    partition directories and files per leaf, the same dtypes read back,
    the same rows in the same order (floats compared by their bytes), each
    traces and channel file sorted by (datetime, frequency)."""
    ref = str(tmp_path / "spark_written")
    _spark_written(list_sigmf_refs(
        spark, [landing, os.path.join(landing, "day2.zip")]), ref)
    for table in ("traces", "channel_metadata", "sweep_metadata",
                  "quarantine"):
        got = _leaves(warehouse[table])
        want = _leaves(os.path.join(ref, table))
        assert sorted(got) == sorted(want), table
        assert {k: len(v) for k, v in got.items()} \
            == {k: len(v) for k, v in want.items()}, table
        assert got == want, table
        assert spark.read.parquet(warehouse[table]).dtypes \
            == spark.read.parquet(os.path.join(ref, table)).dtypes, table
        if table in ("traces", "channel_metadata"):
            _assert_sorted_files(warehouse[table])
    log = spark.read.parquet(warehouse["ingest_log"]).first()
    assert (log.n_files, log.n_quarantined, log.n_ok) == (14, 2, 12)


def test_ingest_empty_tables_read_back(spark, warehouse, tmp_path):
    """A table no task wrote to still reads, with its schema: the
    quarantine of an all-good ingest, and the traces, channel and sweep
    tables of an all-poisoned one."""
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    build_sweep_series(str(good), 2)
    (bad / "bad_hash.sigmf").write_bytes(build_sigmf(bad_hash=True))
    (bad / "truncated.sigmf").write_bytes(build_sigmf(truncate=True))

    q = spark.read.parquet(ingest(spark, str(good),
                                  str(tmp_path / "wh_good"))["quarantine"])
    assert q.count() == 0
    assert q.columns == ["source_file", "error"]

    out = ingest(spark, str(bad), str(tmp_path / "wh_bad"))
    for table in ("traces", "channel_metadata", "sweep_metadata"):
        df = spark.read.parquet(out[table])
        assert df.count() == 0, table
        assert df.dtypes == spark.read.parquet(warehouse[table]).dtypes, table
    assert spark.read.parquet(out["quarantine"]).count() == 2
    assert read_product(spark, str(tmp_path / "wh_bad"), "psd").count() == 0


def test_ingest_failed_commit_leaves_no_staging(spark, landing, tmp_path):
    """A commit that fails (a table path taken by a regular file) raises
    and leaves no staging directory and no persisted RDD behind; an
    ``out_dir`` that is not a local path is refused up front."""
    out = tmp_path / "wh"
    out.mkdir()
    (out / "traces").write_bytes(b"")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(OSError):
        ingest(spark, landing, str(out))
    assert [p for p in os.listdir(out) if p.startswith("_staging-")] == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    with pytest.raises(ValueError, match="local path"):
        ingest(spark, landing, f"file://{tmp_path}/wh2")


def test_ingest_date_in_session_time_zone(spark, tmp_path):
    """``date`` is the capture's date in the session time zone, the value
    ``F.to_date`` gives: captures at 2023-09-17T00:0xZ fall on
    2023-09-16 in America/Denver. The files' names list them out of time
    order, and each file is still sorted by (datetime, frequency)."""
    src = tmp_path / "src"
    src.mkdir()
    build_sweep_series(str(src), 2, start_iso="2023-09-17T00:05:00.000Z",
                       prefix="a")
    build_sweep_series(str(src), 2, prefix="b")     # 00:00Z and 00:01:30Z
    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "America/Denver")
    try:
        out = ingest(spark, str(src), str(tmp_path / "wh"))
        for table in ("traces", "channel_metadata"):
            got = {tuple(r) for r in spark.read.parquet(out[table])
                   .select("date", F.to_date("datetime")).distinct().collect()}
            assert got == {(datetime.date(2023, 9, 16),) * 2}, table
            _assert_sorted_files(out[table])
    finally:
        spark.conf.set(conf, before)


def test_every_reader_stores_the_capture_instant(spark, tmp_path):
    """Under a non-UTC session every decode path stores the capture's own
    instant, not its UTC wall clock read as session-local time:
    ``unix_micros`` of ``datetime`` from the lazy dict, ``decode_traces``,
    ``decode_dir`` and ``stream_to_warehouse`` equals the decode's own
    micros and an ``ingest()`` warehouse's, the lazy metadata tables'
    timestamps equal the warehouse's, and the eager read still returns
    the decode's naive-UTC datetimes."""
    from nasctn_sea_ingest_spark.api import read_seamf_zipfile, \
        read_seamf_zipfile_as_sdf
    from nasctn_sea_ingest_spark.streaming import stream_to_warehouse

    src = tmp_path / "src"
    src.mkdir()
    build_sweep_series(str(src), 2)

    def naive_us(values) -> list:
        return sorted(np.asarray(values, "datetime64[us]").astype(np.int64)
                      .tolist())

    want = naive_us(np.concatenate([
        decode_sigmf(str(f))["psd"]["datetime"].to_numpy()
        for f in sorted(src.iterdir())]))

    def us(df, col="datetime") -> list:
        return sorted(-1 if r[0] is None else r[0]
                      for r in df.select(F.unix_micros(col)).collect())

    def psd(df):
        return df.where(F.col("table") == "psd")

    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "America/Denver")
    try:
        lazy = read_seamf_zipfile_as_sdf(spark, str(src))
        assert us(lazy["psd"]) == want
        assert us(psd(decode_traces(list_sigmf_refs(spark, str(src))))) \
            == want
        assert us(psd(decode_dir(spark, str(src)))) == want
        out = ingest(spark, str(src), str(tmp_path / "wh"))
        assert us(read_product(spark, str(tmp_path / "wh"), "psd")) == want
        for table, cols in (
                ("channel_metadata", ("datetime", "cal_datetime")),
                ("sweep_metadata", ("schedule_start_datetime",
                                    "diagnostics_datetime"))):
            stored = spark.read.parquet(out[table])
            for c in cols:
                assert us(lazy[table], c) == us(stored, c), (table, c)
        q = stream_to_warehouse(spark, str(src), str(tmp_path / "swh"),
                                str(tmp_path / "ckpt"), available_now=True)
        q.awaitTermination(120)
        assert us(read_product(spark, str(tmp_path / "swh"), "psd")) == want
        eager = read_seamf_zipfile(spark, str(src))["psd"]
        assert naive_us(eager["datetime"]) == want
    finally:
        spark.conf.set(conf, before)


def test_backfill_into_ingested_traces(spark, landing, tmp_path):
    """One table, both writers: Spark's writer backfills a corrected day
    into an ingest-written ``traces`` dir and appends a late file into an
    ingest-written leaf; ``read_product`` reads ``datetime`` as a
    timestamp with the expected counts, and ``compact_warehouse`` of the
    mixed leaf keeps every row."""
    zpath = os.path.join(landing, "day2.zip")
    wh = str(tmp_path / "wh")
    traces = ingest(spark, [landing, zpath], wh)["traces"]

    def spark_rows(paths, allow=None):
        return (_rows_of(_decode_files(list_sigmf_refs(spark, paths,
                                                       allow=allow)),
                         "trace", TRACE_SCHEMA)
                .withColumn("date", F.to_date("datetime")))

    backfill_partitions(spark_rows(zpath, allow=5), traces)   # day 2, 5 of 6
    (spark_rows(os.path.join(landing, "sweep_0001.sigmf"))
     .where(F.col("table") == "psd")
     .write.mode("append").partitionBy("table", "date").parquet(traces))

    psd = read_product(spark, wh, "psd")
    assert dict(psd.dtypes)["datetime"] == "timestamp"
    per_day = {r.date: r["count"] for r in psd.groupBy("date").count()
               .collect()}
    assert per_day == {datetime.date(2023, 9, 17): 7 * N_CH * 2,
                       datetime.date(2023, 9, 18): 5 * N_CH * 2}

    leaf = os.path.join(traces, "table=psd", "date=2023-09-17")
    before = sorted(map(repr, spark.read.parquet(leaf).collect()))
    compact_warehouse(spark, traces, target_file_bytes=1 << 30)
    assert len([f for f in os.listdir(leaf) if f.endswith(".parquet")]) == 1
    assert sorted(map(repr, spark.read.parquet(leaf).collect())) == before


def test_partition_pruning(spark, warehouse):
    wh = os.path.dirname(warehouse["traces"])
    psd = read_product(spark, wh, "psd").where(F.col("date") == "2023-09-18")
    assert psd.count() == 6 * N_CH * 2  # only the zipped day
    plan = psd._jdf.queryExecution().executedPlan().toString()
    # the (table, date) predicates must reach the scan as partition filters
    assert "PartitionFilters" in plan
    assert psd.where(F.col("datetime") >= "2023-09-18 00:05:00").count() < psd.count()


def test_ingest_log(spark, warehouse):
    """S16 analog: one structured log row per ingest run with counts."""
    log = spark.read.parquet(warehouse["ingest_log"]).collect()
    assert len(log) == 1
    r = log[0]
    assert r.n_files == N_SWEEPS * 2 + 2
    assert r.n_quarantined == 2
    assert r.n_ok == N_SWEEPS * 2


def test_sweep_summary_cross_check(spark, warehouse):
    """Edge-computed max_of_max_channel_powers == array_max of peak PVT
    (A11 — recomputable from the ingested traces)."""
    wh = os.path.dirname(warehouse["traces"])
    pvt = read_product(spark, wh, "pvt").where(F.col("detector") == "peak")
    sw = spark.read.parquet(warehouse["sweep_metadata"])
    per_file = (pvt.groupBy("source_file")
                .agg(F.sort_array(F.collect_list(F.struct("frequency", "values")))
                     .alias("traces")))
    j = per_file.join(sw, "source_file")
    rows = j.select(
        "source_file",
        F.expr("transform(traces, t -> array_max(t.values))").alias("got"),
        F.col("max_of_max_channel_powers").alias("want")).collect()
    assert len(rows) == 12
    for r in rows:
        assert np.allclose(r.got, r.want, atol=1e-6)


def test_backfill_partitions(spark, tmp_path_factory):
    """Dynamic partition overwrite replaces only the partitions the
    correction touches; other partitions and re-runs are untouched/no-ops."""
    import pandas as pd

    from nasctn_sea_ingest_spark.sources.ingest import backfill_partitions

    out = str(tmp_path_factory.mktemp("bf")) + "/traces"
    base = spark.createDataFrame(pd.DataFrame({
        "table": ["psd"] * 4,
        "date": ["2023-09-16", "2023-09-16", "2023-09-17", "2023-09-17"],
        "datetime": pd.to_datetime(
            ["2023-09-16 00:00", "2023-09-16 00:01",
             "2023-09-17 00:00", "2023-09-17 00:01"]),
        "frequency": [3.5e9] * 4,
        "power": [1.0, 2.0, 3.0, 4.0],
    }))
    base.write.mode("overwrite").partitionBy("table", "date").parquet(out)

    # corrected day 2: one row, new value
    fix = spark.createDataFrame(pd.DataFrame({
        "table": ["psd"],
        "date": ["2023-09-17"],
        "datetime": pd.to_datetime(["2023-09-17 00:00"]),
        "frequency": [3.5e9],
        "power": [99.0],
    }))
    backfill_partitions(fix, out)
    got = spark.read.parquet(out)
    assert got.where("date = '2023-09-16'").count() == 2     # untouched
    d2 = got.where("date = '2023-09-17'").collect()
    assert len(d2) == 1 and d2[0].power == 99.0              # replaced

    backfill_partitions(fix, out)                            # idempotent
    assert spark.read.parquet(out).count() == 3


def test_backfill_sorts_each_file(spark, tmp_path):
    """Rows listed out of time order come out of ``backfill_partitions``
    sorted by (datetime, frequency) in every file: its sort leads with the
    partition columns, which Spark's partitioned writer sorts by, and
    would otherwise sort by alone."""
    import pandas as pd

    n = 48
    order = np.random.default_rng(7).permutation(n)
    df = spark.createDataFrame(pd.DataFrame({
        "table": ["psd", "pvt"] * (n // 2),
        "datetime": pd.date_range("2023-09-16 20:00", periods=n,
                                  freq="13min")[order],
        "frequency": 3.5e9 + 1e7 * (order % 3),
        "power": np.arange(n, dtype=float),
    })).withColumn("date", F.to_date("datetime")).coalesce(1)
    out = str(tmp_path / "traces")
    backfill_partitions(df, out)
    assert sum(len(v) for v in _leaves(out).values()) == 4  # 2 tables x 2 days
    assert spark.read.parquet(out).count() == n
    _assert_sorted_files(out)


def test_decode_dir_binaryfile(spark, tmp_path_factory):
    """binaryFile-source batch decode matches the ref-based decode on the
    same loose files (same schema, same rows and values, and the same
    quarantine text for the poisoned files)."""
    d = tmp_path_factory.mktemp("loose")
    build_sweep_series(str(d), 4)
    (d / "bad_hash.sigmf").write_bytes(build_sigmf(bad_hash=True))
    (d / "truncated.sigmf").write_bytes(build_sigmf(truncate=True))
    via_dir = decode_dir(spark, str(d))
    via_refs = decode_traces(list_sigmf_refs(spark, str(d)))
    assert via_dir.schema == via_refs.schema

    def rows(df):
        return sorted(
            (os.path.basename(r.source_file), r.table, r.datetime,
             r.frequency, r.capture_statistic, r.detector, r.kind,
             None if r["values"] is None else tuple(r["values"]),
             r.x_start, r.x_step, r.error)
            for r in df.collect())

    a, b = rows(via_dir), rows(via_refs)
    assert a == b
    errs = {r[0]: r[-1] for r in a if r[-1] is not None}
    assert set(errs) == {"bad_hash.sigmf", "truncated.sigmf"}
    assert all("sha512" in e for e in errs.values())
