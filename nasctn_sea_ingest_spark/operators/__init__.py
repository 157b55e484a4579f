"""Domain analytics operators (SURVEY.md §2.9): capture summary, 3GPP TDD
frame sync, UL/DL power split, APD transform, whole-band PSD stitch.

``capture_summary`` is the flagship end-to-end query (D6) — pure column
expressions over one scan of the traces table, one shuffle, broadcast-free
metadata join on the capture key. The 3GPP sync (D1–D4) is the one genuinely
non-relational operator: numpy FFT correlation inside ``applyInPandas``
(scipy is not required), grouped by capture so it scales horizontally with
the number of captures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import (
    array_double,
    array_mean_db,
    array_median,
    array_roll,
    explode_trace,
    rayleigh_amplitude,
)

__all__ = [
    "capture_summary", "make_3gpp_downlink_mask", "pfp_frame_sync",
    "roll_pfp", "ul_dl_split", "apd_series", "stitch_psd",
    "theil_sen_slope", "robust_trend",
]


# --------------------------------------------------------------------------
# D6 — capture summary (dask_processing cell 3 parity)
# --------------------------------------------------------------------------

def capture_summary(traces: DataFrame,
                    channel_metadata: DataFrame | None = None) -> DataFrame:
    """Per-capture indicator table:

    - ``median_rms_pfp``    exact median of the mean-statistic rms-detector
      PFP trace,
    - ``max_max_pfp``       max of the max-statistic peak-detector PFP trace,
    - ``median_mean_power`` exact median of the mean-statistic PSD trace,
    - ``max_max_power``     max of the mean-statistic PSD trace,
    - joined ``noise_figure`` / ``gain`` / ``calibration_temperature`` from
      channel metadata.

    ``traces`` is the ingested traces table (long rows with a ``table``
    column) or any DataFrame with the same shape. One scan, predicate
    pushdown on (table, statistic, detector), a single groupBy shuffle on
    the capture key — no joins between the trace products.
    """
    is_pfp_mr = (F.col("table") == "pfp") \
        & (F.col("capture_statistic") == "mean") & (F.col("detector") == "rms")
    is_pfp_xp = (F.col("table") == "pfp") \
        & (F.col("capture_statistic") == "max") & (F.col("detector") == "peak")
    is_psd_mean = (F.col("table") == "psd") \
        & (F.col("capture_statistic") == "mean")

    picked = traces.where(is_pfp_mr | is_pfp_xp | is_psd_mean)
    summary = (picked
               .groupBy("datetime", "frequency")
               .agg(F.max(F.when(is_pfp_mr, array_median("values")))
                    .alias("median_rms_pfp"),
                    F.max(F.when(is_pfp_xp, F.array_max(array_double("values"))))
                    .alias("max_max_pfp"),
                    F.max(F.when(is_psd_mean, array_median("values")))
                    .alias("median_mean_power"),
                    F.max(F.when(is_psd_mean, F.array_max(array_double("values"))))
                    .alias("max_max_power")))
    if channel_metadata is None:
        return summary
    meta = channel_metadata.select(
        "datetime", "frequency",
        F.col("cal_noise_figure_dB").alias("noise_figure"),
        F.col("cal_gain_dB").alias("gain"),
        F.col("cal_temperature_degC").alias("calibration_temperature"))
    return summary.join(meta, ["datetime", "frequency"], "left")


# --------------------------------------------------------------------------
# D1 — 3GPP TDD downlink mask
# --------------------------------------------------------------------------

def make_3gpp_downlink_mask(length: int, tdd_config: int = 2) -> np.ndarray:
    """Boolean downlink mask over a 10 ms TDD frame sampled at ``length``
    points; two frames per trace. Duty cycles follow the two coexistence
    configurations industry emphasizes (3gpp cell 4 semantics):
    config 1 → (5 + 3/7)/10 of the half-frame, config 2 → (7 + 3/7)/10.
    """
    if tdd_config == 1:
        dl_duty = (5 + 3 / 7) / 10.0
    elif tdd_config == 2:
        dl_duty = (7 + 3 / 7) / 10.0
    else:
        raise ValueError("tdd_config must be 1 or 2")
    half = length // 2
    n_dl = int(np.rint(half * dl_duty))
    return np.array(2 * (n_dl * [True] + (half - n_dl) * [False]))


def _circular_corr(x: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Pearson-normalized circular cross-correlation of ``x`` against
    ``mask`` at every lag (numpy FFT; replaces scipy fftconvolve, D2).
    corr[k] = pearson(x rolled left by k, mask)."""
    n = len(x)
    xm = x - x.mean()
    mm = mask.astype(float) - mask.mean()
    num = np.fft.irfft(np.fft.rfft(xm) * np.conj(np.fft.rfft(mm)), n) / n
    denom = x.std() * mask.std()
    if denom == 0:
        return np.zeros(n)
    return num / denom


_SYNC_SCHEMA = T.StructType([
    T.StructField("datetime", T.TimestampType()),
    T.StructField("frequency", T.DoubleType()),
    T.StructField("shift", T.IntegerType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("frame_format", T.IntegerType()),
])


def pfp_frame_sync(pfp: DataFrame) -> DataFrame:
    """Per-capture TDD frame alignment (D4): correlate the mean/rms PFP
    trace envelope against both downlink masks, pick the (lag, config)
    with the highest normalized correlation.

    Returns one row per capture: (datetime, frequency, shift, peak,
    frame_format). ``shift`` is the circular left-roll that aligns the
    trace to frame start; ``frame_format`` ∈ {1, 2}.
    Runs as ``applyInPandas`` over (datetime, frequency) groups — each
    group is one capture's handful of traces, so the operator parallelizes
    across captures with no global state.
    """
    ref = pfp.where((F.col("capture_statistic") == "mean")
                    & (F.col("detector") == "rms")) \
             .select("datetime", "frequency", "values")

    def sync(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in g.iterrows():
            x = np.asarray(r["values"], dtype=np.float64)
            env = 10 ** (x / 20.0)          # envelope domain (3gpp cell 4)
            best = (-np.inf, 0, 0)
            for cfg in (1, 2):
                mask = make_3gpp_downlink_mask(len(env), cfg)
                c = _circular_corr(env, mask)
                k = int(np.argmax(c))
                # the mask repeats every half-trace (two identical frames),
                # so lags are only meaningful modulo the frame period
                k %= max(1, len(env) // 2)
                if c[int(np.argmax(c))] > best[0]:
                    best = (float(np.max(c)), k, cfg)
            rows.append((r["datetime"], r["frequency"],
                         best[1], best[0], best[2]))
        return pd.DataFrame(rows, columns=["datetime", "frequency", "shift",
                                           "peak", "frame_format"])

    return ref.groupBy("datetime", "frequency").applyInPandas(sync, _SYNC_SCHEMA)


def roll_pfp(pfp: DataFrame, sync: DataFrame) -> DataFrame:
    """Apply the per-capture sync shift to every PFP trace (W4): join on the
    capture key, circular-roll the array JVM-side."""
    return (pfp.join(sync.select("datetime", "frequency", "shift", "frame_format"),
                     ["datetime", "frequency"])
               .withColumn("values", array_roll("values", "shift"))
               .drop("shift"))


def ul_dl_split(rolled_pfp: DataFrame, trace_length: int | None = None
                ) -> DataFrame:
    """DL/UL mean power per capture (D5): split the rolled mean/rms trace
    by the frame_format's downlink mask, mean each side in linear power,
    report dB. Null values and positions past the mask are dropped.

    The mask is two identical frames of ``half = trace_length // 2``
    positions, the first ``n_dl`` of each downlink (n_dl read off
    ``make_3gpp_downlink_mask``), so each side is two slices of the
    trace. ``trace_length`` is a schema constant
    (``schemas.TRACE_GEOMETRY["pfp"]``, identical across metadata
    versions), used as the default so building the plan triggers NO
    Spark job — pass it explicitly for non-standard geometries."""
    from ..schemas import TRACE_GEOMETRY

    ref = rolled_pfp.where((F.col("capture_statistic") == "mean")
                           & (F.col("detector") == "rms"))
    n = TRACE_GEOMETRY["pfp"][0] if trace_length is None else trace_length
    half = n // 2
    n_dl = {cfg: int(make_3gpp_downlink_mask(n, cfg)[:half].sum())
            for cfg in (1, 2)}
    dl_len = F.when(F.col("frame_format") == 1, n_dl[1]).otherwise(n_dl[2])

    def mean_db(start, length):
        v = F.col("values")
        side = F.concat(F.slice(v, start + 1, length),
                        F.slice(v, start + half + 1, length))
        return array_mean_db(F.filter(side, lambda x: x.isNotNull()))

    return ref.select("datetime", "frequency", "frame_format",
                      mean_db(0, dl_len).alias("dl_power_db"),
                      mean_db(dl_len, half - dl_len).alias("ul_power_db"))


# --------------------------------------------------------------------------
# D8 — APD series, D9 — whole-band PSD stitch
# --------------------------------------------------------------------------

def apd_series(apd: DataFrame) -> DataFrame:
    """APD as (probability → amplitude) rows with the Rayleigh x-transform
    (D8): amplitude = bin axis value; rayleigh_x = −10·log10(−ln p)."""
    ex = explode_trace(apd)
    return (ex.withColumnRenamed("x", "amplitude_dBm")
              .withColumn("probability", F.col("value").cast("double"))
              .withColumn("rayleigh_x",
                          rayleigh_amplitude(F.col("probability")))
              .drop("value"))


def stitch_psd(psd: DataFrame) -> DataFrame:
    """Whole-band PSD view (D9): shift each channel's baseband axis by its
    center frequency → absolute-frequency rows spanning all channels."""
    ex = explode_trace(psd)
    return ex.withColumn("x_abs", F.col("frequency") + F.col("x")).drop("x")


# --------------------------------------------------------------------------
# robust per-group trend (grouped-agg pandas UDF — the §2.11 UDAF surface)
# --------------------------------------------------------------------------

def theil_sen_slope(x: np.ndarray, y: np.ndarray,
                    max_pairs: int = 250_000) -> float:
    """Median of pairwise slopes (Theil–Sen estimator) — the robust trend
    a sensor-drift monitor wants (one stuck capture can't swing it, unlike
    least squares). All-pairs is O(n²); beyond ``max_pairs`` the pairs are
    subsampled DETERMINISTICALLY (fixed stride over the pair index space),
    bounding memory/compute per group while keeping the estimate stable
    run-to-run."""
    n = len(x)
    if n < 2:
        return float("nan")
    ii, jj = np.triu_indices(n, k=1)
    if len(ii) > max_pairs:
        step = len(ii) // max_pairs + 1
        ii, jj = ii[::step], jj[::step]
    dx = x[jj] - x[ii]
    ok = dx != 0
    if not ok.any():
        return float("nan")
    return float(np.median((y[jj] - y[ii])[ok] / dx[ok]))


def robust_trend(df: DataFrame, by: "list[str]", x_col: str, y_col: str,
                 max_pairs: int = 250_000) -> DataFrame:
    """Per-group Theil–Sen slope of ``y_col`` against ``x_col`` — e.g.
    dB-per-day calibration drift per frequency. This is the engine's
    grouped-agg pandas UDF surface (SURVEY §2.11): a true UDAF shape —
    Arrow ships each group's two columns to one vectorized numpy call,
    the groupBy shuffles once on ``by`` like any aggregate. The estimator
    is order-insensitive, so Spark's nondeterministic within-group row
    order cannot change the result.

    Scale: per-group memory is O(min(n², max_pairs)) pair slopes; groups
    are independent tasks. For groups with billions of rows, pre-bucket
    ``x`` (e.g. daily medians via groupBy) and run the estimator over the
    bucketed series — same call, bounded n.
    """
    @F.pandas_udf("double")
    def _ts(xs: pd.Series, ys: pd.Series) -> float:
        return theil_sen_slope(
            np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64), max_pairs)

    # Spark disallows mixing a grouped-agg pandas UDF with JVM aggregates
    # in one agg(), so the group size rides a second tiny pandas agg
    @F.pandas_udf("long")
    def _n(xs: pd.Series) -> int:
        return len(xs)

    return (df.groupBy(*by)
              .agg(_ts(F.col(x_col), F.col(y_col)).alias("trend_slope"),
                   _n(F.col(x_col)).alias("n_points")))
