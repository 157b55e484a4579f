"""Domain-operator tests: capture_summary vs a pandas oracle over the
synthetic warehouse, 3GPP frame sync recovering planted shifts, UL/DL
split, APD transform, whole-band stitch."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F
from pyspark.sql import Row

from nasctn_sea_ingest_spark.operators import (
    apd_series,
    capture_summary,
    make_3gpp_downlink_mask,
    pfp_frame_sync,
    roll_pfp,
    stitch_psd,
    ul_dl_split,
)
from nasctn_sea_ingest_spark.sources.ingest import decode_traces, \
    decode_channel_metadata, list_sigmf_refs

from nasctn_sea_ingest_spark.sources.synth import build_sweep_series


@pytest.fixture(scope="module")
def sweep_tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sweeps")
    build_sweep_series(str(d), 4)
    refs = list_sigmf_refs(spark, str(d))
    traces = decode_traces(refs).where(F.col("error").isNull()).cache()
    meta = decode_channel_metadata(refs).where(F.col("error").isNull()).cache()
    yield traces, meta
    traces.unpersist()
    meta.unpersist()


def test_capture_summary_matches_pandas(sweep_tables):
    traces, meta = sweep_tables
    got = {(r.datetime, r.frequency): r
           for r in capture_summary(traces, meta).collect()}
    # pandas oracle over the same decoded rows
    pdf = traces.toPandas()
    mdf = meta.toPandas()
    n_caps = 4 * 3
    assert len(got) == n_caps
    for (dt, freq), r in got.items():
        sel = pdf[(pdf.datetime == dt) & (pdf.frequency == freq)]
        pfp_mr = sel[(sel.table == "pfp") & (sel.capture_statistic == "mean")
                     & (sel.detector == "rms")]["values"].iloc[0]
        pfp_xp = sel[(sel.table == "pfp") & (sel.capture_statistic == "max")
                     & (sel.detector == "peak")]["values"].iloc[0]
        psd_m = sel[(sel.table == "psd")
                    & (sel.capture_statistic == "mean")]["values"].iloc[0]
        assert r.median_rms_pfp == pytest.approx(
            np.median(np.float64(pfp_mr)), abs=1e-9)
        assert r.max_max_pfp == pytest.approx(np.max(np.float64(pfp_xp)))
        assert r.median_mean_power == pytest.approx(
            np.median(np.float64(psd_m)), abs=1e-9)
        assert r.max_max_power == pytest.approx(np.max(np.float64(psd_m)))
        mrow = mdf[(mdf.datetime == dt) & (mdf.frequency == freq)].iloc[0]
        assert r.noise_figure == pytest.approx(mrow.cal_noise_figure_dB)
        assert r.gain == pytest.approx(mrow.cal_gain_dB)
        assert r.calibration_temperature == pytest.approx(
            mrow.cal_temperature_degC)


def test_downlink_mask_shapes():
    for n in (56, 560):
        for cfg, duty in ((1, (5 + 3 / 7) / 10), (2, (7 + 3 / 7) / 10)):
            m = make_3gpp_downlink_mask(n, cfg)
            assert len(m) == 2 * (n // 2)
            # two identical frames
            assert (m[: n // 2] == m[n // 2: 2 * (n // 2)]).all()
            got_duty = m[: n // 2].mean()
            assert got_duty == pytest.approx(duty, abs=1.5 / (n // 2))
    with pytest.raises(ValueError):
        make_3gpp_downlink_mask(56, 3)


def _planted_pfp(spark, shifts_cfgs, n=56):
    """PFP tables whose mean/rms trace is a rolled TDD mask in dB domain."""
    rows = []
    rng = np.random.default_rng(3)
    for i, (shift, cfg) in enumerate(shifts_cfgs):
        mask = make_3gpp_downlink_mask(n, cfg)
        env = 0.1 + 0.9 * mask.astype(float)
        x = 20 * np.log10(env) + rng.normal(0, 0.01, n)
        planted = np.roll(x, shift)  # left-roll by `shift` restores alignment
        dt = datetime(2023, 9, 17) + timedelta(seconds=90 * i)
        for stat, det in (("mean", "rms"), ("max", "peak")):
            rows.append(Row(datetime=dt, frequency=3.545e9,
                            capture_statistic=stat, detector=det,
                            values=[float(v) for v in planted],
                            x_start=0.0, x_step=1.7857e-5))
    return spark.createDataFrame(rows)


def test_frame_sync_recovers_shift(spark):
    cases = [(0, 2), (7, 2), (23, 1), (41, 2), (11, 1)]
    pfp = _planted_pfp(spark, cases)
    sync = {r.datetime: r for r in pfp_frame_sync(pfp).collect()}
    assert len(sync) == len(cases)
    for i, (shift, cfg) in enumerate(cases):
        dt = datetime(2023, 9, 17) + timedelta(seconds=90 * i)
        r = sync[dt]
        assert r.shift == shift % 28, f"case {i}"  # modulo the frame period
        assert r.frame_format == cfg, f"case {i}"
        assert r.peak > 0.9


def test_roll_and_uldl_split(spark):
    cases = [(7, 2), (23, 1)]
    pfp = _planted_pfp(spark, cases)
    sync = pfp_frame_sync(pfp)
    rolled = roll_pfp(pfp, sync)
    # after rolling, the mean/rms trace realigns with the unshifted mask
    for r in rolled.where("capture_statistic = 'mean'").collect():
        mask = make_3gpp_downlink_mask(len(r.values), r.frame_format)
        x = np.array(r.values)
        assert x[mask].mean() > x[~mask].mean() + 15  # DL ≈ 0 dB, UL ≈ −20 dB
    # plan construction must trigger NO Spark job (the mask length is a
    # schema constant, not something the operator should probe with .first())
    sc = spark.sparkContext
    sc.setJobGroup("uldl-plan", "plan-only")
    split_df = ul_dl_split(rolled, trace_length=56)
    assert list(sc.statusTracker().getJobIdsForGroup("uldl-plan")) == []
    sc.setJobGroup("uldl-exec", "exec")
    split = split_df.collect()
    assert len(split) == 2
    for r in split:
        assert r.dl_power_db == pytest.approx(0.0, abs=0.5)
        assert r.ul_power_db == pytest.approx(-20.0, abs=0.5)
        assert r.dl_power_db > r.ul_power_db + 15


def _uldl_reference(values, frame_format, trace_length):
    """The literal-mask rule: zip the trace with the frame_format's mask
    (config 2 unless it is 1); null values and positions past the mask
    are dropped; each side's mean is taken in linear power."""
    mask = make_3gpp_downlink_mask(trace_length,
                                   1 if frame_format == 1 else 2)
    sides = {True: [], False: []}
    for v, m in zip(values, mask):
        if v is not None:
            sides[bool(m)].append(float(np.float32(v)))

    def mean_db(xs):
        return 10 * np.log10(np.mean(10 ** (np.asarray(xs) / 10)))
    return mean_db(sides[True]), mean_db(sides[False])


@pytest.mark.parametrize("trace_length,lengths", [
    (56, (56,)), (57, (57, 56)), (560, (560,)),
    (56, (60, 50)),         # the array longer, then shorter, than the mask
])
def test_ul_dl_split_matches_literal_mask(spark, trace_length, lengths):
    rng = np.random.default_rng(trace_length + len(lengths))
    rows, want = [], {}
    for i in range(8):
        n = lengths[i % len(lengths)]
        vals = [float(x) for x in rng.normal(-60, 8, n).astype(np.float32)]
        for j in rng.choice(n, 3, replace=False):
            vals[int(j)] = None
        ff = (1, 2, None)[i % 3]
        dt = datetime(2023, 9, 17) + timedelta(seconds=90 * i)
        rows.append((dt, 3.545e9, ff, "mean", "rms", vals))
        want[dt] = _uldl_reference(vals, ff, trace_length)
    rows.append((datetime(2023, 9, 18), 3.545e9, 1, "max", "peak",
                 [0.0] * lengths[0]))       # not the mean/rms trace
    df = spark.createDataFrame(
        rows, "datetime timestamp, frequency double, frame_format int, "
              "capture_statistic string, detector string, "
              "values array<float>")
    got = ul_dl_split(df, trace_length=trace_length).collect()
    assert len(got) == len(want)
    for r in got:
        dl, ul = want[r.datetime]
        assert r.dl_power_db == pytest.approx(dl, rel=1e-12)
        assert r.ul_power_db == pytest.approx(ul, rel=1e-12)


def test_pfp_frame_sync_builds_without_warnings(spark):
    """The grouped-map function is fully annotated, so pyspark infers its
    eval type instead of warning on every build."""
    import warnings

    pfp = _planted_pfp(spark, [(0, 2)])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pfp_frame_sync(pfp)


def test_apd_series(sweep_tables):
    traces, _ = sweep_tables
    apd = traces.where(F.col("table") == "apd").drop("table")
    out = apd_series(apd)
    rows = out.where(F.col("frequency") == 3.545e9).orderBy("datetime", "bin") \
        .limit(20).collect()
    assert rows
    for r in rows:
        assert r.amplitude_dBm == pytest.approx(-180.0 + r.bin * 1.0)
        if r.probability is not None and 0 < r.probability < 1:
            want = -10 * np.log10(-np.log(r.probability))
            assert r.rayleigh_x == pytest.approx(want, rel=1e-9)


def test_stitch_psd(sweep_tables):
    traces, _ = sweep_tables
    psd = traces.where(F.col("table") == "psd").drop("table")
    out = stitch_psd(psd).where("capture_statistic = 'max'")
    one_file = out.select("source_file").orderBy("source_file").first().source_file
    rows = out.where(F.col("source_file") == one_file).orderBy("x_abs").collect()
    # 3 channels × 32 bins, absolute axis strictly increasing across channels
    assert len(rows) == 3 * 32
    xs = [r.x_abs for r in rows]
    assert xs == sorted(xs)
    assert xs[0] == pytest.approx(3.545e9 - 4_992_000.0)
    assert xs[-1] == pytest.approx(3.565e9 - 4_992_000.0 + 31 * 16_000.0)


def test_robust_trend_theil_sen(spark):
    """Grouped-agg pandas UDF: slope recovers a planted trend and shrugs
    off an outlier that wrecks least squares; matches the numpy estimator
    exactly; order/partitioning-insensitive."""
    import numpy as np
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark.operators import (robust_trend,
                                                   theil_sen_slope)
    rs = np.random.RandomState(3)
    rows = []
    for g, slope in (("a", 2.0), ("b", -0.5)):
        x = np.arange(40, dtype=float)
        y = slope * x + 1.0 + rs.normal(0, 0.01, 40)
        y[7] = 1e6          # gross outlier
        rows += [(g, float(xi), float(yi)) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in robust_trend(df, ["g"], "x", "y").collect()}
    for g, slope in (("a", 2.0), ("b", -0.5)):
        assert abs(got[g].trend_slope - slope) < 0.05   # outlier-immune
        assert got[g].n_points == 40
    # exact parity with the driver-side estimator + partition stability
    want = {}
    for g in ("a", "b"):
        sub = [(x, y) for gg, x, y in rows if gg == g]
        xs = np.array([p[0] for p in sub]); ys = np.array([p[1] for p in sub])
        want[g] = theil_sen_slope(xs, ys)
    again = {r.g: r.trend_slope
             for r in robust_trend(df.repartition(13), ["g"], "x", "y")
                 .collect()}
    for g in ("a", "b"):
        assert again[g] == got[g].trend_slope == want[g]
