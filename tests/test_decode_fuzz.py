"""Hypothesis fuzz: decode(build(params)) holds its invariants for any
plausible file geometry — the round-trip property the golden files can't
cover (they pin one geometry per version)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from nasctn_sea_ingest_spark.sources.sigmf import (
    decode_sigmf,
    decode_sigmf_trace_records,
)
from nasctn_sea_ingest_spark.sources.synth import build_sigmf


@settings(max_examples=25, deadline=None)
@given(
    n_channels=st.integers(min_value=1, max_value=8),
    psd_len=st.integers(min_value=4, max_value=64),
    pvt_len=st.integers(min_value=4, max_value=64),
    pfp_len=st.integers(min_value=4, max_value=64),
    apd_len=st.integers(min_value=2, max_value=32),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_decode_roundtrip_any_geometry(n_channels, psd_len, pvt_len,
                                       pfp_len, apd_len, seed):
    raw = build_sigmf(n_channels=n_channels, seed=seed,
                      geometry=(psd_len, pvt_len, pfp_len, apd_len))
    out = decode_sigmf(raw)
    assert len(out["psd"]) == 2 * n_channels
    assert len(out["pvt"]) == 2 * n_channels
    assert len(out["pfp"]) == 6 * n_channels
    assert len(out["apd"]) == n_channels
    for t, ln in (("psd", psd_len), ("pvt", pvt_len),
                  ("pfp", pfp_len), ("apd", apd_len)):
        assert all(len(v) == ln for v in out[t]["values"]), t
    ch = out["channel_metadata"]
    assert len(ch) == n_channels
    assert ch["datetime"].is_monotonic_increasing
    assert set(out["psd"]["frequency"]) == set(ch["frequency"])

    # the records, frames and arrays tiers agree cell for cell: keys,
    # float32 values and the (x_start, x_step) axis
    recs = decode_sigmf_trace_records(raw)
    arrays = decode_sigmf(raw, unpack="arrays")
    for t in ("psd", "pvt", "pfp", "apd"):
        mine = [r for r in recs if r[1] == t]
        frame = out[t]
        assert len(mine) == len(frame) == len(arrays[t]), t
        us = frame["datetime"].values.astype("datetime64[us]")
        for j, r in enumerate(mine):
            assert r[2] == us[j] and r[3] == frame["frequency"].iloc[j], t
            for c, i in (("capture_statistic", 4), ("detector", 5)):
                assert r[i] == (frame[c].iloc[j] if c in frame else None), t
            assert r[7].dtype == np.float32
            assert np.array_equal(r[7], frame["values"].iloc[j])
            assert np.array_equal(r[7], arrays[t][j])
            assert (r[8], r[9]) == (frame["x_start"].iloc[j],
                                    frame["x_step"].iloc[j])
