"""Pure-Python decode core for NASCTN SEA ``.sigmf`` sensor files.

A ``.sigmf`` file is a tar archive holding a JSON metadata member
(``*.sigmf-meta``) and an LZMA(xz)-compressed payload of IEEE float16 values
(``*.sigmf-data``) — one "sweep" across N RF channels, each channel carrying
fixed-length traces (PSD / PVT / PFP and, version-dependent, APD) in a
metadata-declared order (reference: ``/root/reference/src/sea_ingest/seamf.py``;
file layout :1008-1044, trace split :140-157).

This is a clean-room re-expression of the *semantics* of the reference's six
metadata versions (v0.1 … v0.6.0, dispatcher at ``seamf.py:927-978``) in plain
``json``/``numpy``, producing **long-format pandas frames** that map directly
onto Spark rows (key columns + ``values`` array), instead of the reference's
wide MultiIndex matrices.  Differences from the reference, by design:

- PSD axis is centered (−BW/2 … +BW/2) for *all* versions, matching the
  published cross-version outputs (``demos/read_seamf.ipynb`` cell 5 shows
  −4 992 000…4 992 000 for v1–v6) rather than the current ``_psd_index``
  code path which starts at 0.
- detector names normalize with a superset map (``maximum``→``peak`` as well
  as ``max``→``peak``) so v5/v6 series names land on the same vocabulary as
  v1–v4 (reference: ``seamf.py:118-127`` + per-version name maps).
- v4+ calibration timestamps are kept as ``cal_datetime`` (the reference
  overwrites them with the capture timestamp, ``seamf.py:713-721``).
- diagnostics flatten one level with a ``group_`` prefix for every version
  (the reference mixes three strategies across v2/v3/v4+; ``util.py:86-94``).

No code is copied from the reference; all constants and name maps are
re-derived from its published golden files and documentation.
"""

from __future__ import annotations

import hashlib
import io
import json
import lzma
import tarfile
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


class SigmfError(ValueError):
    """Raised for malformed / failed-integrity sigmf files."""


# --------------------------------------------------------------------------
# normalization vocabularies (F6/F7 analogs)
# --------------------------------------------------------------------------

DETECTOR_MAP = {"max": "peak", "maximum": "peak", "mean": "rms",
                "peak": "peak", "rms": "rms"}
STAT_MAP = {"maximum": "max", "minimum": "min",
            "max": "max", "min": "min", "mean": "mean"}

# v4 capture-key renames (semantics of seamf.py:614-623)
CAPTURE_KEYMAP = {
    "ntia-sensor:overload": "overload",
    "ntia-sensor:duration": "iq_capture_duration_ms",
    "noise_figure": "cal_noise_figure_dB",
    "gain": "cal_gain_dB",
    "temperature": "cal_temperature_degC",
    "reference_level": "sigan_reference_level_dBm",
    "attenuation": "sigan_attenuation_dB",
    "preamp_enable": "sigan_preamp_enable",
}

TRACE_TABLES = ("psd", "pvt", "pfp", "apd", "apd_raw")


def _iso_us(s: str) -> np.datetime64:
    """ISO8601 'Z' string → naive-UTC datetime64[us] (semantics of
    util.py:6-20; tz-awareness is applied on demand in Spark views)."""
    return np.datetime64(s.rstrip("Z"), "us")


def timezone_from_longitude(lng: float) -> str | None:
    """Crude longitude-bucket timezone lookup (parity with seamf.py:38-46)."""
    if -119 < lng < -116:
        return "America/Los_Angeles"
    if -116 < lng < -80:
        return "America/Denver"
    if -80 < lng < 60:
        return "America/Boston"
    return None


# --------------------------------------------------------------------------
# decode plan: per-version metadata → (trace list, axes, metadata rows)
# --------------------------------------------------------------------------

@dataclass
class _Plan:
    """Everything needed to split the flat float16 vector into rows."""
    # ordered (offset, table, statistic, detector, kind)
    traces: list = field(default_factory=list)
    # table → (x_start, x_step)
    axes: dict = field(default_factory=dict)
    channel_meta: dict = field(default_factory=dict)   # frequency → row dict
    sweep_meta: dict = field(default_factory=dict)
    timezone: str | None = None
    version: str = ""


def _version_of(meta: dict) -> str:
    ext = meta["global"].get("core:extensions")
    if isinstance(ext, list):
        for e in ext:
            if e.get("name") == "ntia-nasctn-sea":
                return e["version"]
        raise SigmfError("no ntia-nasctn-sea extension entry")
    if isinstance(ext, dict):
        return ext.get("ntia-nasctn-sea", "v0.1")
    raise SigmfError("unrecognized core:extensions layout")


def _schedule_meta(g: dict, sweep: dict) -> None:
    sched = g.get("ntia-scos:schedule", {})
    sweep["schedule_name"] = sched.get("name")
    start = sched.get("start")
    sweep["schedule_start_datetime"] = _iso_us(start) if start else None
    sweep["schedule_interval"] = sched.get("interval")
    sweep["task"] = g.get("ntia-scos:task")


def _centered_psd_axis(n: int, bandwidth: float) -> tuple[float, float]:
    step = bandwidth / n
    return (-(n // 2) * step, step)


def _plan_v1(meta: dict, tz: str) -> _Plan:
    """v0.1: traces declared as SigMF annotations (seamf.py:235-359)."""
    p = _Plan(version="v0.1")
    g = meta["global"]
    sample_rate = g["core:sample_rate"]
    caps_by_start = {c["core:sample_start"]: c for c in meta["captures"]}
    p.timezone = tz

    for ann in meta.get("annotations", []):
        atype = ann["ntia-core:annotation_type"]
        start = ann["core:sample_start"]
        if atype == "CalibrationAnnotation":
            freq = caps_by_start[start]["core:frequency"]
            p.channel_meta.setdefault(freq, {}).update(
                cal_gain_dB=ann["ntia-sensor:gain_sensor"],
                cal_noise_figure_dB=ann["ntia-sensor:noise_figure_sensor"])
            p.sweep_meta["calibration_enbw"] = ann["ntia-sensor:enbw_sensor"]
            p.sweep_meta["calibration_temperature_degC"] = ann["ntia-sensor:temperature"]
        elif atype == "SensorAnnotation":
            cap = caps_by_start[start]
            freq = cap["core:frequency"]
            p.channel_meta.setdefault(freq, {}).update(
                frequency=freq,
                datetime=_iso_us(cap["core:datetime"]),
                overload=ann["ntia-sensor:overload"],
                sigan_attenuation_dB=ann["ntia-sensor:attenuation_setting_sigan"])
        elif atype == "FrequencyDomainDetection":
            # detector like 'fft_max_power' → statistic 'max'
            stat = ann["ntia-algorithm:detector"].split("_")[1]
            p.traces.append((start, "psd", STAT_MAP[stat], None, None))
            n = ann["core:sample_count"]
            p.axes["psd"] = _centered_psd_axis(n, 10e6)
        elif atype == "TimeDomainDetection":
            det = ann["ntia-algorithm:detector"].split("_")[0]
            p.traces.append((start, "pvt", None, DETECTOR_MAP[det], None))
            n = ann["core:sample_count"]
            dur = ann["ntia-algorithm:number_of_samples"] / sample_rate
            p.axes["pvt"] = (0.0, dur / n)
        else:
            label = ann.get("core:label")
            if label is None:
                continue
            if label.startswith("pfp_"):
                _, det, stat, _ = label.split("_")
                p.traces.append((start, "pfp", STAT_MAP[stat],
                                 DETECTOR_MAP[det], None))
                n = ann["core:sample_count"]
                # 10 ms TDD frame sampled n times over a 4 s / 400-point PVT
                p.axes["pfp"] = (0.0, 4.0 / n / 400)
            elif label.startswith("apd_"):
                kind = label.split("_")[1]          # 'p' or 'a'
                p.traces.append((start, "apd_raw", None, None, kind))

    p.sweep_meta.update(
        sample_rate=sample_rate,
        version=g.get("core:version"),
        metadata_version="v0.1",
        calibration_datetime=_iso_us(g["ntia-sensor:calibration_datetime"]))
    _schedule_meta(g, p.sweep_meta)
    return p


# v0.2 trace-name vocabulary (capture keys '<name>_sample_start',
# semantics of seamf.py:362-464)
_V2_TRACES = {
    "max_fft": ("psd", "max", None),
    "mean_fft": ("psd", "mean", None),
    "max_td_pwr_series": ("pvt", None, "peak"),
    "mean_td_pwr_series": ("pvt", None, "rms"),
    "min_rms_pfp": ("pfp", "min", "rms"),
    "max_rms_pfp": ("pfp", "max", "rms"),
    "mean_rms_pfp": ("pfp", "mean", "rms"),
    "min_peak_pfp": ("pfp", "min", "peak"),
    "max_peak_pfp": ("pfp", "max", "peak"),
    "mean_peak_pfp": ("pfp", "mean", "peak"),
    "apd_p": ("apd_raw", None, None, "p"),
    "apd_a": ("apd_raw", None, None, "a"),
}


def _plan_v2(meta: dict, tz: str) -> _Plan:
    p = _Plan(version="v0.2")
    g = meta["global"]
    p.timezone = tz

    cap = None
    for cap in meta["captures"]:
        freq = cap["core:frequency"]
        row = {}
        for k, v in cap.items():
            if k == "core:frequency" or k.endswith("sample_count"):
                continue
            if k.endswith("_sample_start") and not k.startswith("core:"):
                name = k.rsplit("_sample_start", 1)[0]
                info = _V2_TRACES[name]
                kind = info[3] if len(info) > 3 else None
                p.traces.append((v, info[0], info[1], info[2], kind))
            elif k == "core:datetime":
                row["datetime"] = _iso_us(v)
            else:
                row[k.split(":", 1)[-1]] = v
        row["frequency"] = freq
        p.channel_meta[freq] = row

    dur = cap["iq_capture_duration_msec"] / 1000.0
    p.axes["psd"] = _centered_psd_axis(cap["fft_sample_count"], 10e6)
    p.axes["pvt"] = (0.0, dur / cap["td_pwr_sample_count"])
    p.axes["pfp"] = (0.0, dur / cap["pfp_sample_count"] / cap["td_pwr_sample_count"])

    diag = g.get("diagnostics", {})
    p.sweep_meta.update(
        sample_rate=g["core:sample_rate"],
        version=g.get("core:version"),
        metadata_version=_version_of(meta),
        calibration_datetime=_iso_us(g["ntia-sensor:calibration_datetime"]),
        diagnostics_datetime=_iso_us(diag["diagnostics_datetime"])
        if "diagnostics_datetime" in diag else None)
    _schedule_meta(g, p.sweep_meta)
    for v in diag.values():
        if isinstance(v, dict):
            p.sweep_meta.update(v)
    p.traces.sort(key=lambda t: t[0])
    return p


def _plan_v3(meta: dict, tz: str) -> _Plan:
    """v0.3: trace layout from global.data_products detector lists, APD as a
    variable-length raw pair per channel (seamf.py:467-603)."""
    p = _Plan(version="v0.3")
    g = meta["global"]
    p.timezone = tz
    dp = g["data_products"]

    rel = []                      # relative (offset, table, stat, det)
    off = 0
    for table, json_name in (("psd", "power_spectral_density"),
                             ("pvt", "time_series_power"),
                             ("pfp", "periodic_frame_power")):
        f = dp[json_name]
        for name in f["detector"]:
            tok = name.split("_")
            if table == "psd":
                rel.append((off, table, STAT_MAP[tok[0]], None))
            elif table == "pvt":
                rel.append((off, table, None, DETECTOR_MAP[tok[0]]))
            else:
                rel.append((off, table, STAT_MAP[tok[1]], DETECTOR_MAP[tok[0]]))
            off += f["sample_count"]
    apd_off = off                 # APD pair begins after the fixed block

    apd_lens = dp["amplitude_probability_distribution"]["sample_count"]
    for cap, apd_len in zip(meta["captures"], apd_lens):
        freq = cap["core:frequency"]
        start = cap["core:sample_start"]
        row = {k.split(":", 1)[-1]: v for k, v in cap.items()
               if k not in ("core:frequency", "core:sample_start", "core:datetime")}
        row["datetime"] = _iso_us(cap["core:datetime"])
        row["frequency"] = freq
        p.channel_meta[freq] = row
        for r_off, table, stat, det in rel:
            p.traces.append((start + r_off, table, stat, det, None))
        p.traces.append((start + apd_off, "apd_raw", None, None, "p"))
        p.traces.append((start + apd_off + apd_len, "apd_raw", None, None, "a"))

    dur = meta["captures"][0]["iq_capture_duration_msec"] / 1000.0
    psd = dp["power_spectral_density"]
    p.axes["psd"] = _centered_psd_axis(
        psd["sample_count"],
        g["core:sample_rate"] * psd["sample_count"] / psd["number_of_samples_in_fft"])
    p.axes["pvt"] = (0.0, dur / dp["time_series_power"]["sample_count"])
    p.axes["pfp"] = (0.0, dur / dp["periodic_frame_power"]["sample_count"]
                     / dp["time_series_power"]["sample_count"])

    diag = g.get("diagnostics", {})
    p.sweep_meta.update(
        sample_rate=g["core:sample_rate"],
        version=g.get("core:version"),
        metadata_version=_version_of(meta),
        calibration_datetime=_iso_us(g["ntia-sensor:calibration_datetime"]),
        calibration_temperature_degC=g.get("calibration_temperature_degC"),
        diagnostics_datetime=_iso_us(diag["diagnostics_datetime"])
        if "diagnostics_datetime" in diag else None)
    _schedule_meta(g, p.sweep_meta)
    for k, v in diag.items():
        if isinstance(v, dict):
            for ks, vs in v.items():
                p.sweep_meta[f"{k}_{ks}"] = vs
    p.traces.sort(key=lambda t: t[0])
    return p


def _capture_row_v4plus(cap: dict) -> tuple[float, int, dict]:
    """Flatten a v0.4+ capture into a channel_metadata row."""
    cap = dict(cap)
    freq = cap.pop("core:frequency")
    start = cap.pop("core:sample_start")
    ts = cap.pop("core:datetime")
    row = {}
    for group in ("ntia-sensor:sensor_calibration", "ntia-sensor:sigan_settings"):
        sub = dict(cap.pop(group, {}))
        sub.pop("reference", None)
        cal_dt = sub.pop("datetime", None)
        if cal_dt is not None:
            row["cal_datetime"] = _iso_us(cal_dt)
        for k, v in sub.items():
            row[CAPTURE_KEYMAP.get(k, k)] = v
    for k, v in cap.items():
        row[CAPTURE_KEYMAP.get(k, k)] = v
    row["datetime"] = _iso_us(ts)
    row["frequency"] = freq
    return freq, start, row


def _sweep_meta_v4plus(meta: dict, p: _Plan) -> None:
    g = meta["global"]
    diag = g.get("ntia-diagnostics:diagnostics", {})
    p.sweep_meta.update(
        sample_rate=g["core:sample_rate"],
        version=g.get("core:version"),
        metadata_version=_version_of(meta),
        diagnostics_datetime=_iso_us(diag["datetime"]) if "datetime" in diag else None)
    _schedule_meta(g, p.sweep_meta)
    for k, v in diag.items():
        if k == "datetime":
            continue
        if isinstance(v, dict):
            for ks, vs in v.items():
                p.sweep_meta[f"{k}_{ks}"] = vs
        else:
            p.sweep_meta[k] = v
    # edge-computed channel power summaries (A11; schemas.py:284-285, :350-353)
    for k in ("max_of_max_channel_powers", "median_of_mean_channel_powers",
              "mean_channel_powers", "median_channel_powers"):
        if f"ntia-nasctn-sea:{k}" in g:
            p.sweep_meta[k] = list(g[f"ntia-nasctn-sea:{k}"])
    geo = g.get("core:geolocation", {}).get("coordinates")
    if geo:
        p.sweep_meta["geo_lon"], p.sweep_meta["geo_lat"] = geo[0], geo[1]
        p.sweep_meta["geo_alt"] = geo[2] if len(geo) > 2 else None


def _plan_v4(meta: dict, tz: str) -> _Plan:
    p = _Plan(version="v0.4")
    g = meta["global"]
    p.timezone = tz
    dp = g["ntia-algorithm:data_products"]

    rel = []
    off = 0
    for table, json_name in (("psd", "power_spectral_density"),
                             ("pvt", "time_series_power"),
                             ("pfp", "periodic_frame_power"),
                             ("apd", "amplitude_probability_distribution")):
        f = dp[json_name]
        for tr in f.get("traces", [None]):
            if tr is None:
                rel.append((off, table, None, None))
            else:
                rel.append((off, table,
                            STAT_MAP.get(tr.get("statistic")),
                            DETECTOR_MAP.get(tr.get("detector"))))
            off += f["length"]

    for cap in meta["captures"]:
        freq, start, row = _capture_row_v4plus(cap)
        p.channel_meta[freq] = row
        for r_off, table, stat, det in rel:
            p.traces.append((start + r_off, table, stat, det, None))

    dur = meta["captures"][0]["ntia-sensor:duration"] / 1000.0
    psd = dp["power_spectral_density"]
    p.axes["psd"] = _centered_psd_axis(
        psd["length"], g["core:sample_rate"] * psd["length"] / psd["samples"])
    p.axes["pvt"] = (0.0, dur / dp["time_series_power"]["length"])
    p.axes["pfp"] = (0.0, dur / dp["periodic_frame_power"]["length"]
                     / dp["time_series_power"]["length"])
    apd = dp["amplitude_probability_distribution"]
    p.axes["apd"] = (float(apd["min_amplitude"]), float(apd["amplitude_bin_size"]))

    _sweep_meta_v4plus(meta, p)
    p.traces.sort(key=lambda t: t[0])
    return p


# v0.5/v0.6 graph display names (seamf.py:760-765)
_V5_GRAPHS = {
    "Power Spectral Density": "psd",
    "Power vs. Time": "pvt",
    "Periodic Frame Power": "pfp",
    "Amplitude Probability Distribution": "apd",
}


def _plan_v5(meta: dict, tz: str) -> _Plan:
    """v0.5 ('v0.4.0') and v0.6.0: data products as Graph objects with
    series names and explicit x/y axes (seamf.py:759-924)."""
    p = _Plan(version=_version_of(meta))
    p.timezone = tz
    dp = meta["global"]["ntia-algorithm:data_products"]

    rel = []
    off = 0
    for graph in dp:
        table = _V5_GRAPHS.get(graph["name"])
        if table is None:
            raise SigmfError(f"unknown data product: {graph['name']}")
        if table == "apd":
            rel.append((off, "apd", None, None))
            off += graph["length"]
            start, step = graph["y_start"][0], graph["y_step"][0]
            p.axes["apd"] = (float(int(start)), float(int(step)))
        else:
            for series in graph["series"]:
                tok = series.split("_")
                if table == "pfp":
                    rel.append((off, table, STAT_MAP[tok[1]], DETECTOR_MAP[tok[0]]))
                elif table == "psd":
                    rel.append((off, table, STAT_MAP[tok[0]], None))
                else:
                    rel.append((off, table, None, DETECTOR_MAP[tok[0]]))
                off += graph["length"]
            p.axes[table] = (float(graph["x_start"][0]), float(graph["x_step"][0]))

    for cap in meta["captures"]:
        freq, start, row = _capture_row_v4plus(cap)
        p.channel_meta[freq] = row
        for r_off, table, stat, det in rel:
            p.traces.append((start + r_off, table, stat, det, None))

    _sweep_meta_v4plus(meta, p)
    p.traces.sort(key=lambda t: t[0])
    return p


_PLANNERS = {
    "v0.1": _plan_v1,
    "v0.2": _plan_v2,
    "v0.3": _plan_v3,
    "v0.4": _plan_v4,
    "v0.4.0": _plan_v5,   # confusing but correct: v5 files report v0.4.0
    "v0.5.0": _plan_v5,
    "v0.6.0": _plan_v5,
    "0.6.0": _plan_v5,
}


def _plan_for(meta: dict, tz: str | None) -> _Plan:
    """Plan one file; without an explicit ``tz`` the timezone comes from
    the geolocation's longitude bucket (v0.1-0.3 files carry none)."""
    version = _version_of(meta)
    planner = _PLANNERS.get(version)
    if planner is None:
        raise SigmfError(f"unrecognized metadata version {version!r}")
    if tz is None:
        loc = meta["global"].get("core:geolocation", {}).get("coordinates")
        if loc is None:
            raise SigmfError(
                "no geolocation in metadata; pass an explicit timezone")
        tz = timezone_from_longitude(loc[0])
        if tz is None:
            raise SigmfError(f"no timezone bucket for longitude {loc[0]}")
    return planner(meta, tz)


# --------------------------------------------------------------------------
# public decode API
# --------------------------------------------------------------------------

def _read_tar(file) -> tuple[dict, bytes]:
    """Extract the two sigmf members (.sigmf-meta JSON + .sigmf-data blob).

    Hot path is a direct ustar header walk over in-memory bytes — a
    ``.sigmf`` is a plain 2-member POSIX tar, and the ``tarfile`` module's
    generality (sparse members, pax global headers, symlink resolution)
    costs ~0.3 ms/file, a visible slice of decode once lzma is excluded.
    Any header this walker doesn't recognize falls back to ``tarfile``."""
    if isinstance(file, io.BytesIO):
        # Honor the stream position like tarfile would (a caller handing us
        # an unseeked just-written buffer should still see a tar error, not
        # a silent whole-buffer decode).
        at = file.tell()
        file = file.getvalue() if at == 0 else file.getvalue()[at:]
    if isinstance(file, (bytes, bytearray)):
        got = _walk_ustar(bytes(file))
        if got is not None:
            return got
        file = io.BytesIO(file)
    kws = {"name": file} if isinstance(file, str) else {"fileobj": file}
    with tarfile.TarFile(**kws) as tar:
        names = tar.getnames()
        meta_name = [n for n in names if n.endswith(".sigmf-meta")]
        data_name = [n for n in names if n.endswith(".sigmf-data")]
        if len(meta_name) != 1 or len(data_name) != 1:
            raise SigmfError("archive must hold one .sigmf-meta and one .sigmf-data")
        meta = json.loads(tar.extractfile(meta_name[0]).read())
        lzma_blob = tar.extractfile(data_name[0]).read()
    return meta, lzma_blob


def _walk_ustar(buf: bytes) -> tuple[dict, bytes] | None:
    """ustar/pax member walk covering the shapes sigmf writers emit:
    regular files, directories, pax extended headers (``x``, per-member
    ``path``/``size`` overrides) and GNU long names (``L``).  Anything else
    (global pax, sparse, links) returns None so the caller falls back to
    ``tarfile``."""
    meta = blob = None
    pos = 0
    next_name = next_size = None  # pax/L overrides for the next member
    try:
        while pos + 512 <= len(buf):
            hdr = buf[pos:pos + 512]
            if hdr[:1] == b"\0":  # end-of-archive zero block
                break
            size_field = hdr[124:136].split(b"\0", 1)[0].strip()
            size = int(size_field, 8) if size_field else 0
            data_end = pos + 512 + size
            typeflag = hdr[156:157]
            if typeflag in (b"0", b"\0"):
                name = next_name if next_name is not None \
                    else hdr[:100].split(b"\0", 1)[0]
                if next_size is not None:
                    size = next_size
                    data_end = pos + 512 + size
                data = buf[pos + 512:data_end]
                if len(data) != size:
                    return None
                if name.endswith(b".sigmf-meta"):
                    if meta is not None:  # duplicates → tarfile path raises
                        return None
                    meta = data
                elif name.endswith(b".sigmf-data"):
                    if blob is not None:
                        return None
                    blob = data
                next_name = next_size = None
            elif typeflag == b"x":  # pax extended header: "len key=value\n"
                rec = buf[pos + 512:data_end]
                while rec:
                    sp = rec.index(b" ")
                    rlen = int(rec[:sp])
                    if rlen <= sp:  # malformed (e.g. "0 x=y\n"): a valid
                        return None  # record covers its own length digits
                    kv = rec[sp + 1:rlen - 1]  # strip trailing \n
                    key, _, val = kv.partition(b"=")
                    if key == b"path":
                        next_name = val
                    elif key == b"size":
                        next_size = int(val)
                    rec = rec[rlen:]
            elif typeflag == b"L":  # GNU long name
                next_name = buf[pos + 512:data_end].rstrip(b"\0")
            elif typeflag != b"5":  # directories carry no payload; skip
                return None
            pos += 512 + ((size + 511) // 512) * 512
    except (ValueError, IndexError):
        return None
    if meta is None or blob is None:
        return None
    return json.loads(meta), blob


def _verified(file, hash_check: bool) -> tuple[dict, bytes]:
    """The tar read plus the payload integrity gate every entry point
    shares: (parsed metadata, still-compressed payload)."""
    meta, lzma_blob = _read_tar(file)
    if hash_check and hashlib.sha512(lzma_blob).hexdigest() \
            != meta["global"].get("core:sha512"):
        raise SigmfError("payload sha512 mismatch")
    return meta, lzma_blob


def _planned(file, tz: str | None, hash_check: bool) -> tuple:
    """One file's full decode up to the trace split: verify, decompress,
    plan — (plan, decompressed payload). The batch ingest takes its trace,
    channel and sweep rows from this one result."""
    meta, lzma_blob = _verified(file, hash_check)
    payload = lzma.decompress(lzma_blob, format=lzma.FORMAT_XZ)
    return _plan_for(meta, tz), payload


def _capture_order(plan) -> list:
    """(datetime, frequency) per capture, in the order ``_trace_tuples``
    assigns rows — each table's rows are this sequence repeated blockwise
    (k identical-layout traces per capture)."""
    return sorted(((row["datetime"], freq)
                   for freq, row in plan.channel_meta.items()),
                  key=lambda x: x[0])


def _trace_tuples(plan, payload: bytes, source: str) -> dict[str, list]:
    """Split the decompressed payload at the declared trace offsets (R1
    analog, ``seamf.py:140-157``) straight to TRACE_SCHEMA-ordered tuples
    (source, table, datetime, frequency, capture_statistic, detector, kind,
    values, x_start, x_step, error), grouped by table in TRACE_TABLES order.

    Traces were emitted per capture in offset order, so the k-th block of
    traces belongs to the k-th capture (offsets ascend within the file).
    Timestamps stay datetime64[us] (Arrow takes them directly)."""
    flat = np.frombuffer(payload, dtype=np.float16).astype(np.float32)
    cap_rows = [(dt, float(freq)) for dt, freq in _capture_order(plan)]
    traces = plan.traces
    n = len(traces)
    per_cap = n // len(cap_rows) if cap_rows else 0
    axes = plan.axes
    buckets: dict[str, list] = {t: [] for t in TRACE_TABLES}
    for i in range(n):
        off, table, stat, det, kind = traces[i]
        end = traces[i + 1][0] if i + 1 < n else len(flat)
        dt, freq = cap_rows[i // per_cap] if per_cap else cap_rows[0]
        x0, dx = axes.get(table, (0.0, 1.0))
        buckets[table].append((
            source, table, dt, freq,
            stat if table in ("psd", "pfp") else None,
            det if table in ("pvt", "pfp") else None,
            kind if table == "apd_raw" else None,
            flat[off:end], float(x0), float(dx), None))
    return buckets


def decode_sigmf_trace_records(file, tz: str | None = None,
                               hash_check: bool = True,
                               source: str = "") -> list[tuple]:
    """Distributed-ingest hot path: one ``.sigmf`` file straight to
    TRACE_SCHEMA-ordered tuples (source, table, datetime, frequency,
    capture_statistic, detector, kind, values, x_start, x_step, error) —
    no per-file pandas frames. ``decode_traces`` builds a single frame per
    Arrow batch from these, which is what lets the Spark path beat the
    reference's per-file eager loop (``ziparchive.py:422``).
    """
    plan, payload = _planned(file, tz, hash_check)
    buckets = _trace_tuples(plan, payload, source)
    out: list[tuple] = []
    for rows in buckets.values():
        out.extend(rows)
    return out


def decode_sigmf_meta(file, tz: str | None = None,
                      hash_check: bool = False) -> dict:
    """Metadata-only fast path (S14): parse JSON, skip decompression.

    ``hash_check=True`` additionally verifies the payload sha512 WITHOUT
    decompressing (the blob is already in hand from the tar read; sha512
    costs ~0.2 ms/file vs ~8 ms for the lzma a full decode pays), so a
    payload whose bytes were altered fails here. A payload that matches
    its hash but does not decompress still passes: only a full decode
    sees that, which is why the lazy API dict reads its metadata tables
    from the full decode. Default off: it roughly doubles the
    metadata-only parse cost."""
    meta, _ = _verified(file, hash_check)
    return {"plan": _plan_for(meta, tz), "meta": meta}


# TRACE_SCHEMA tuple positions of the columns a trace frame carries
_FIELD_IDX = {"datetime": 2, "frequency": 3, "capture_statistic": 4,
              "detector": 5, "kind": 6}


def decode_sigmf(file, tz: str | None = None, hash_check: bool = True,
                 source: str = "", unpack: str = "frames"):
    """Decode one ``.sigmf`` file into long-format pandas frames.

    Returns a dict with keys ``psd pvt pfp apd apd_raw channel_metadata
    sweep_metadata sensor_metadata`` (trace tables only when present for
    the version).
    Trace rows: datetime, frequency, capture_statistic?, detector?, kind?,
    values (float32 array), x_start, x_step.

    ``unpack`` is the analog of the reference's ``force_loader_cls``
    override (``seamf.py:981-1058``; the three output tiers timed in
    BASELINE.md "single-file decode"):

    - ``"frames"`` (default) — the full dict-of-frames above;
    - ``"arrays"`` — stop after the numpy split: ``{table: float32 ndarray
      (n_traces x trace_len)}`` plus ``channel_metadata``/``sweep_metadata``
      frames (reference's ``unpack to np.ndarray`` tier);
    - ``"bytes"`` — raw decompressed payload, no unpacking:
      ``{"data": float16 bytes, "meta": parsed JSON}`` (reference's
      ``force_loader_cls=None`` tier).

    Both unpacked tiers are built from the records tier's tuples.
    """
    if unpack not in ("frames", "arrays", "bytes"):
        raise ValueError("unpack must be 'frames', 'arrays' or 'bytes'")
    meta, lzma_blob = _verified(file, hash_check)
    payload = lzma.decompress(lzma_blob, format=lzma.FORMAT_XZ)
    if unpack == "bytes":
        return {"data": payload, "meta": meta}

    plan = _plan_for(meta, tz)
    buckets = _trace_tuples(plan, payload, source)
    out: dict = {}
    if unpack == "arrays":
        for table, rows in buckets.items():
            if rows:
                out[table] = np.stack([r[7] for r in rows])
    else:
        # column-wise construction: a dict of ready columns skips pandas'
        # per-cell type inference over tuple rows (~40% of decode time in
        # profile; the lzma call is the only bigger cost and is irreducible)
        cap_rows = _capture_order(plan)
        n_caps = len(cap_rows)
        base_dt = _fast_dtindex([d for d, _ in cap_rows]) if n_caps else None
        base_freq = np.asarray([f for _, f in cap_rows], dtype=np.float64)
        for table, rows in buckets.items():
            if not rows:
                continue
            keep = ["datetime", "frequency"]
            if table in ("psd", "pfp"):
                keep.append("capture_statistic")
            if table in ("pvt", "pfp"):
                keep.append("detector")
            if table == "apd_raw":
                keep.append("kind")
            n_rows = len(rows)
            data: dict = {}
            # Rows are capture-grouped blocks of identical layout (k traces
            # per capture, _trace_tuples contract), so key columns build as
            # repeat/tile of the per-capture constants instead of per-row
            # conversions — cell-for-cell parity with the records tier is
            # pinned by test_decode_roundtrip_any_geometry.
            k = n_rows // n_caps if n_caps else 0
            if k and n_rows == k * n_caps:
                data["datetime"] = base_dt.repeat(k)
                data["frequency"] = np.repeat(base_freq, k)
                for c in keep[2:]:
                    data[c] = np.tile(
                        _obj_array([rows[j][_FIELD_IDX[c]]
                                    for j in range(k)]), n_caps)
            else:
                for c in keep:
                    vals = [r[_FIELD_IDX[c]] for r in rows]
                    if c == "datetime":
                        data[c] = _fast_dtindex(vals)
                    elif c == "frequency":
                        data[c] = np.asarray(vals, dtype=np.float64)
                    else:
                        data[c] = _obj_array(vals)
            data["values"] = _obj_array([r[7] for r in rows])
            data["x_start"] = np.full(n_rows, rows[0][8])
            data["x_step"] = np.full(n_rows, rows[0][9])
            out[table] = _typed_frame(data, n_rows)

    out["channel_metadata"] = _frame_from_dicts(
        sorted(plan.channel_meta.values(), key=lambda d: d["datetime"]),
        front=("datetime", "frequency"))

    sweep = dict(plan.sweep_meta)
    sweep["timezone"] = plan.timezone
    sweep["source_file"] = source
    out["sweep_metadata"] = _frame_from_dicts([sweep])
    # 7th product key, reference parity: seamf.py:231,331 returns
    # sensor_metadata={timezone}; timezone is ALSO kept on sweep_metadata
    # (documented superset divergence — it joins naturally there)
    out["sensor_metadata"] = _typed_frame(
        {"timezone": _obj_array([plan.timezone]),
         "source_file": _obj_array([source])}, 1)
    return out


def _obj_array(vals: list) -> "np.ndarray":
    """Object ndarray from a list without element inspection."""
    a = np.empty(len(vals), dtype=object)
    a[:] = vals
    return a


_NAT_I8 = np.datetime64("NaT").astype("int64")
_M8NS = np.dtype("M8[ns]")


def _fast_dtindex(vals: list) -> "pd.DatetimeIndex":
    """DatetimeIndex from a list of same-tz ``pd.Timestamp`` (or None) via
    the int64 epoch values — skips pandas' per-element sequence inference,
    which showed up in the decode profile (one index per metadata table per
    file).  Mixed tz / non-Timestamp input falls back to the public
    constructor; equality with it is pinned by the decode parity tests."""
    try:
        tzs = {v.tz for v in vals if v is not None}
    except AttributeError:  # not all Timestamps
        # same-unit datetime64 lists (capture rows arrive as M8[us]): one
        # vectorized cast — the public constructor routes these through
        # per-element objects_to_datetime64 (~5 slow calls per decoded
        # file). Values that would overflow datetime64[ns] fall back to
        # the public constructor so they raise OutOfBoundsDatetime
        # instead of silently wrapping (a naive M8[ns] cast wraps).
        units = {v.dtype for v in vals
                 if isinstance(v, np.datetime64)}
        n_m8 = sum(isinstance(v, np.datetime64) for v in vals)
        if len(units) == 1 and n_m8 + vals.count(None) == len(vals):
            u = next(iter(units))
            arr = np.array(vals, dtype=u)       # native unit: no overflow
            if u == _M8NS:
                return pd.DatetimeIndex(arr)
            per_ns = np.timedelta64(1, np.datetime_data(u)[0]) \
                // np.timedelta64(1, "ns")
            if per_ns >= 1:
                i8 = arr.view("i8")
                ok = i8 == _NAT_I8
                bound = (2**63 - 1) // int(per_ns)
                if np.all(ok | (np.abs(i8) <= bound)):
                    return pd.DatetimeIndex(arr.astype("M8[ns]"))
        return pd.DatetimeIndex(vals)
    if len(tzs) > 1:
        return pd.DatetimeIndex(vals)
    try:
        i8 = np.fromiter(
            (v.value if v is not None else _NAT_I8 for v in vals),
            dtype=np.int64, count=len(vals))
    except OverflowError:  # outside datetime64[ns] range: let the public
        return pd.DatetimeIndex(vals)  # constructor raise OutOfBoundsDatetime
    idx = pd.DatetimeIndex(i8.view("M8[ns]"))
    if tzs and (tz := next(iter(tzs))) is not None:
        idx = idx.tz_localize("UTC").tz_convert(tz)
    return idx


try:  # pandas ≥2 internals fast path; any signature drift falls back
    from pandas.core.internals.managers import (
        create_block_manager_from_column_arrays as _pd_cbm)
except Exception:  # pragma: no cover
    _pd_cbm = None


_COL_INDEX_MEMO: dict[tuple, "pd.Index"] = {}


def _typed_frame(data: dict, n_rows: int) -> "pd.DataFrame":
    """Frame from ready-typed column arrays, skipping the public
    constructor's per-column sanitize/homogenize (~half the cost of each
    frame at decode rates; the values are bit-identical either way —
    pinned by test_values_match_reference_dump).  Falls back to the plain
    constructor on any pandas-internals mismatch.

    The column Index is memoized: a decode stream re-creates the same
    handful of column tuples for every file, and ``pd.Index.__new__`` was
    a visible slice of the frames-tier profile.  (Indexes are immutable,
    so sharing one across frames is safe.)"""
    if _pd_cbm is not None:
        try:
            arrays = [v._data if isinstance(v, pd.DatetimeIndex) else v
                      for v in data.values()]
            names = tuple(data)
            cols = _COL_INDEX_MEMO.get(names)
            if cols is None:
                cols = _COL_INDEX_MEMO.setdefault(names, pd.Index(names))
            # .view() hands each frame its own Index object over the shared
            # immutable values, so a consumer setting df.columns.name can't
            # mutate every other decoded frame's columns.
            mgr = _pd_cbm(arrays, [cols.view(), pd.RangeIndex(n_rows)],
                          consolidate=False, refs=[None] * len(arrays))
            return pd.DataFrame._from_mgr(mgr, axes=mgr.axes)
        except Exception:  # pragma: no cover
            pass
    return pd.DataFrame(data, copy=False)


def _infer_array(vals: list):
    """Typed array from a scalar list, mirroring pandas' inference for the
    value universe that occurs in sigmf metadata (json scalars, Timestamps,
    array-valued extras): all-bool → bool, all-int → int64, numeric with
    None → float64/NaN, datetimes → DatetimeIndex, anything else → object.
    Keeps frame dtypes identical to the plain constructor (asserted by
    test_metadata_frame_dtypes_match_plain_constructor) at a fraction of
    its per-column sanitize cost."""
    if all(v is None for v in vals):
        return _obj_array(vals)
    if all(isinstance(v, (bool, np.bool_)) for v in vals):
        return np.asarray(vals, dtype=bool)
    numeric = True
    has_none = has_float = False
    for v in vals:
        if v is None:
            has_none = True
        elif isinstance(v, (bool, np.bool_)):
            numeric = False
            break
        elif isinstance(v, (float, np.floating)):
            has_float = True
        elif not isinstance(v, (int, np.integer)):
            numeric = False
            break
    if numeric:
        if has_none or has_float:
            return np.asarray([np.nan if v is None else float(v)
                               for v in vals], dtype=np.float64)
        return np.asarray(vals, dtype=np.int64)
    if all(v is None or isinstance(v, (pd.Timestamp, np.datetime64))
           for v in vals):
        return _fast_dtindex(vals)
    return _obj_array(vals)


def _frame_from_dicts(dicts, front=()) -> "pd.DataFrame":
    """Column-wise frame construction from row dicts (pandas' list-of-dicts
    path runs per-cell type inference — ~3× slower in the decode profile).
    Key columns in ``front`` lead; remaining columns keep first-seen order;
    datetime-named columns get the C-path DatetimeIndex conversion."""
    if not dicts:
        return pd.DataFrame()
    cols: list = [c for c in front if c in dicts[0]]
    for d in dicts:
        for k in d:
            if k not in cols:
                cols.append(k)
    data = {}
    for k in cols:
        vals = [d.get(k) for d in dicts]
        if k in ("datetime", "cal_datetime"):
            data[k] = _fast_dtindex(vals)
        else:
            data[k] = _infer_array(vals)
    return _typed_frame(data, len(dicts))
