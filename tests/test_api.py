"""Reference-shaped API tests: golden-file decode plus zip reads, eager and
lazy, with error semantics.

The golden-file tests read ``example_v6.sigmf`` through the ``golden_v6``
fixture (``tests/conftest.py``): the real file where the reference checkout
has it, else a synthesized stand-in at its geometry (17 channels; 625-bin
PSD, 400-point PVT, 560-point PFP, 151-point APD; SURVEY.md §1.1), so the
34×625 / 17 / 102×560 shapes hold on both.  No test here needs all six
golden files; cell-for-cell parity with the reference decoder is
``test_sigmf_decode.py::test_values_match_reference_dump``."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from nasctn_sea_ingest_spark import api
from nasctn_sea_ingest_spark.functions import trace
from nasctn_sea_ingest_spark.sources.synth import build_sigmf, build_sweep_series


def test_read_seamf_golden(golden_v6):
    out = api.read_seamf(golden_v6)
    assert {"psd", "pvt", "pfp", "apd"} <= set(out)
    assert len(out["psd"]) == 34


def test_read_seamf_meta_golden(golden_v6):
    meta = api.read_seamf_meta(golden_v6)
    assert meta["plan"].traces


@pytest.fixture(scope="module")
def zpath(tmp_path_factory):
    d = tmp_path_factory.mktemp("zips")
    return build_sweep_series(str(d), 4, zip_name="a.zip")


def test_zipfile_as_sdf(spark, zpath):
    sdfs = api.read_seamf_zipfile_as_sdf(spark, zpath)
    assert {"psd", "pvt", "pfp", "apd", "channel_metadata",
            "sweep_metadata", "sensor_metadata"} <= set(sdfs)
    assert sdfs["psd"].count() == 4 * 3 * 2
    assert sdfs["sweep_metadata"].count() == 4
    # reference product-key parity: sensor_metadata = {timezone} per file
    sm = sdfs["sensor_metadata"].toPandas()
    assert list(sm.columns) == ["source_file", "timezone"]
    assert len(sm) == 4
    # trace() helper composes with the dict shape, like the reference
    one = trace(sdfs, "pfp", capture_statistic="mean", detector="rms")
    assert one.count() == 4 * 3


def test_zipfile_eager(spark, zpath):
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    dfs = api.read_seamf_zipfile(spark, zpath, allow=2)
    # the eager read caches nothing it would have to release
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert len(dfs["psd"]) == 2 * 3 * 2
    assert np.isfinite(np.concatenate(
        [np.asarray(v) for v in dfs["psd"]["values"]])).all()


def test_as_wide_reference_shape(golden_v6):
    """as_wide reproduces the reference's MultiIndex matrix layout on the
    golden v6 file (SURVEY §1.2: 34×625 psd, keyed rows, physical x axis)."""
    out = api.read_seamf(golden_v6)
    wide = api.as_wide(out["psd"], "psd")
    assert wide.shape == (34, 625)
    assert list(wide.index.names) == ["datetime", "frequency",
                                      "capture_statistic"]
    assert wide.columns[0] == -4_992_000.0
    assert wide.columns[-1] == pytest.approx(-4_992_000.0 + 624 * 16_000.0)
    # .xs-style cross-section works like the reference
    one = wide.xs("max", level="capture_statistic")
    assert one.shape == (17, 625)
    pfp = api.as_wide(out["pfp"], "pfp")
    assert pfp.shape == (102, 560)
    assert list(pfp.index.names) == ["datetime", "frequency",
                                     "capture_statistic", "detector"]


def test_read_seamf_sensor_metadata_key(golden_v6):
    """7-key product parity with reference read_seamf (seamf.py:231):
    sensor_metadata = {timezone}, also present in arrays tier."""
    for unpack in ("frames", "arrays"):
        out = api.read_seamf(golden_v6, unpack=unpack)
        sm = out["sensor_metadata"]
        assert sm["timezone"].iloc[0] == \
            out["sweep_metadata"]["timezone"].iloc[0]


def test_read_seamf_unpack_tiers(golden_v6):
    """`unpack` reproduces the reference's force_loader_cls output tiers
    (BASELINE.md single-file decode rows): bytes → raw float16 payload,
    arrays → stacked ndarrays, frames (default) → dict of frames."""
    frames = api.read_seamf(golden_v6)
    arrays = api.read_seamf(golden_v6, unpack="arrays")
    raw = api.read_seamf(golden_v6, unpack="bytes")

    assert arrays["psd"].shape == (34, 625)
    assert arrays["pfp"].shape == (102, 560)
    np.testing.assert_array_equal(
        arrays["psd"][0], np.asarray(frames["psd"]["values"].iloc[0]))
    # metadata frames ride along unchanged
    assert arrays["channel_metadata"].equals(frames["channel_metadata"])

    vals = np.frombuffer(raw["data"], dtype=np.float16)
    n_frame_vals = sum(
        sum(len(v) for v in frames[t]["values"])
        for t in ("psd", "pvt", "pfp", "apd", "apd_raw") if t in frames)
    assert vals.size == n_frame_vals
    assert "core:sha512" in raw["meta"]["global"]
    with pytest.raises(ValueError, match="unpack"):
        api.read_seamf(golden_v6, unpack="wat")


def _pfunc(d):
    psd = d["psd"].copy()
    psd["vmax"] = [float(np.max(v)) for v in psd["values"]]
    return {"psd_max": psd[["datetime", "frequency", "capture_statistic",
                            "vmax"]],
            "note": "non-frame values stay driver-side"}


def test_partition_func_hook(spark, zpath):
    """partition_func sees each decoded batch dict and its frame-valued
    outputs become lazy DataFrames (reference ziparchive.py:210-273)."""
    sdfs = api.read_seamf_zipfile_as_sdf(spark, zpath, partition_func=_pfunc)
    assert set(sdfs) == {"psd_max"}
    pdf = sdfs["psd_max"].toPandas()
    assert len(pdf) == 4 * 3 * 2
    assert pdf["vmax"].notna().all()
    # row-level parity with the plain decode path
    plain = api.read_seamf_zipfile(spark, zpath)["psd"]
    want = sorted(float(np.max(v)) for v in plain["values"])
    assert want == sorted(pdf["vmax"])


@pytest.fixture(scope="module")
def bad_hash_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("poison_hook")
    (d / "ok.sigmf").write_bytes(build_sigmf())
    (d / "bad.sigmf").write_bytes(build_sigmf(bad_hash=True))
    return str(d)


def test_partition_func_hook_honours_errors(spark, bad_hash_dir):
    """The hook follows ``errors`` like every other reader: 'raise' raises
    when the batch computes, 'log' drops the failed file."""
    sdfs = api.read_seamf_zipfile_as_sdf(spark, bad_hash_dir,
                                         partition_func=_pfunc)
    with pytest.raises(Exception, match="sha512"):
        sdfs["psd_max"].count()
    sdfs = api.read_seamf_zipfile_as_sdf(spark, bad_hash_dir, errors="log",
                                         partition_func=_pfunc)
    assert sdfs["psd_max"].count() == 3 * 2


def _pickle_sink(pdf, path, pid):
    import os
    out = os.path.join(path, f"part-{pid}.pkl")
    pdf.to_pickle(out)
    return out


def test_write_partitions(spark, tmp_path):
    """Custom side-effecting sink: write_fn runs once per partition and the
    returned log accounts for every row (reference map_partitions sink)."""
    import pandas as pd
    df = spark.range(0, 100, 1, 4).withColumn("v", F.col("id") * 2)
    log = api.write_partitions(df, _pickle_sink, str(tmp_path))
    assert log["n_rows"].sum() == 100
    back = pd.concat([pd.read_pickle(f) for f in log["out_file"].dropna()])
    assert sorted(back["id"]) == list(range(100))
    assert (back["v"] == back["id"] * 2).all()


def test_zipfile_error_modes(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("poison")
    (d / "ok.sigmf").write_bytes(build_sigmf())
    (d / "bad.sigmf").write_bytes(build_sigmf(bad_hash=True))
    # errors='raise' is LAZY (dask parity): the failure surfaces at the
    # first action that touches the bad file, as the executor-raised
    # SparkRuntimeException carrying the decode error text
    with pytest.raises(Exception, match="sha512"):
        api.read_seamf_zipfile_as_sdf(spark, str(d))["psd"].count()
    # ... and metadata products raise too (never silently drop the file)
    with pytest.raises(Exception, match="sha512"):
        api.read_seamf_zipfile_as_sdf(spark, str(d))["sweep_metadata"] \
            .count()
    sdfs = api.read_seamf_zipfile_as_sdf(spark, str(d), errors="log")
    assert sdfs["psd"].count() == 3 * 2        # bad file dropped
    assert sdfs["sweep_metadata"].count() == 1  # metadata dropped too
    # the eager read keeps both modes
    with pytest.raises(Exception, match="sha512"):
        api.read_seamf_zipfile(spark, str(d))
    dfs = api.read_seamf_zipfile(spark, str(d), errors="log")
    assert len(dfs["psd"]) == 3 * 2
    assert len(dfs["sweep_metadata"]) == 1
    assert not dfs["psd"]["source_file"].str.endswith("bad.sigmf").any()
    assert not dfs["sweep_metadata"]["source_file"] \
        .str.endswith("bad.sigmf").any()


@pytest.fixture(scope="module")
def zpath12(tmp_path_factory):
    d = tmp_path_factory.mktemp("zips12")
    return build_sweep_series(str(d), 12, zip_name="b.zip")


def test_read_seamf_zipfile_as_delayed(spark, zpath12):
    """Delayed analog: list of per-partition lazy reads; each .compute()
    yields that partition's dict of pandas frames only."""
    objs = api.read_seamf_zipfile_as_delayed(spark, zpath12,
                                             limit_count=12,
                                             partition_size=5)
    assert [len(o) for o in objs] == [5, 5, 2]
    got = objs[0].compute()
    assert set(got) >= {"psd", "pvt", "pfp", "channel_metadata",
                        "sweep_metadata", "sensor_metadata"}
    assert got["sweep_metadata"].shape[0] == 5          # ONLY this batch
    assert got["psd"]["source_file"].nunique() == 5
    # compute() helper mirrors dask.compute over the list
    all_parts = api.compute(objs[1:])
    assert [p["sweep_metadata"].shape[0] for p in all_parts] == [5, 2]


def test_restore_multiindex(spark, zpath):
    dfs = api.read_seamf_zipfile(spark, zpath, allow=3, errors="log")
    out = api.restore_multiindex(dfs)
    assert list(out["psd"].index.names) == ["datetime", "frequency",
                                            "capture_statistic"]
    assert list(out["pfp"].index.names) == ["datetime", "frequency",
                                            "capture_statistic", "detector"]
    assert list(out["channel_metadata"].index.names) == ["datetime",
                                                         "frequency"]
    # sweep/sensor metadata pass through unindexed (reference skip)
    assert out["sweep_metadata"].index.name is None


def _lzma_bad_sigmf() -> bytes:
    """A file whose payload is cut short but whose ``core:sha512`` is
    recomputed to match: the hash check passes and only decompression
    fails, so a metadata-only parse cannot see the fault."""
    import hashlib
    import io
    import json
    import tarfile
    src = tarfile.open(fileobj=io.BytesIO(build_sigmf(truncate=True)))
    members = {m.name: src.extractfile(m).read() for m in src.getmembers()}
    meta_name = next(n for n in members if n.endswith(".sigmf-meta"))
    data = next(v for n, v in members.items() if n.endswith(".sigmf-data"))
    meta = json.loads(members[meta_name])
    meta["global"]["core:sha512"] = hashlib.sha512(data).hexdigest()
    members[meta_name] = json.dumps(meta).encode()
    buf = io.BytesIO()
    with tarfile.TarFile(fileobj=buf, mode="w") as tar:
        for name, blob in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(blob)
            tar.addfile(info, io.BytesIO(blob))
    return buf.getvalue()


def _canon(pdf):
    """Column names plus the sorted reprs of a frame's rows (arrays as
    lists), so two reads compare row for row whatever their order."""
    cols = [[v.tolist() if isinstance(v, np.ndarray) else v
             for v in pdf[c].tolist()] for c in pdf.columns]
    return list(pdf.columns), sorted(repr(r) for r in zip(*cols))


def test_one_failed_file_rule_for_every_reader(spark, tmp_path_factory):
    """The lazy dict and the eager read apply one rule to a file that
    fails decode: every lazy table raises on it under errors='raise', and
    under errors='log' every lazy table equals the eager read's table.
    Nothing is left persisted."""
    d = tmp_path_factory.mktemp("poison_lzma")
    (d / "ok.sigmf").write_bytes(build_sigmf())
    (d / "lzbad.sigmf").write_bytes(_lzma_bad_sigmf())
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()

    sdfs = api.read_seamf_zipfile_as_sdf(spark, str(d))
    assert set(sdfs) == {"psd", "pvt", "pfp", "apd", "apd_raw",
                         "channel_metadata", "sweep_metadata",
                         "sensor_metadata"}
    for name, df in sdfs.items():
        with pytest.raises(Exception, match="decode failed"):
            df.count()

    lazy = api.read_seamf_zipfile_as_sdf(spark, str(d), errors="log")
    eager = api.read_seamf_zipfile(spark, str(d), errors="log")
    assert set(lazy) == set(eager)
    for name, df in lazy.items():
        assert _canon(df.toPandas()) == _canon(eager[name]), name
    assert len(eager["sweep_metadata"]) == 1
    assert jsc.getPersistentRDDs().size() == persisted
