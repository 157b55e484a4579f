"""Seeded sensor-day archive: ``N_FILES`` v0.6.0 ``.sigmf`` sweeps at the
90 s cadence, 15 channels, reference geometry, zipped the way
``sources.synth.build_sweep_series`` zips them. The seed picks the day
and every file's payload; archives are cached per seed and geometry."""

from __future__ import annotations

import os
import shutil
import zipfile
from multiprocessing import get_context

import numpy as np

N_FILES = 48                        # 72 minutes of sweeps at the 90 s cadence
N_CHANNELS = 15
GEOMETRY = (625, 400, 560, 151)     # psd, pvt, pfp, apd lengths
TRACES_PER_CHANNEL = 11             # 2 psd + 2 pvt + 6 pfp + 1 apd
INTERVAL_S = 90
KEEP_CACHED = 4                     # inputs of each kind kept in the cache
GEN_PROCS = os.cpu_count() or 1     # generation is not timed: use every core


def day_start(seed: int) -> str:
    day = np.datetime64("2023-01-01") + np.timedelta64(seed % 365, "D")
    return f"{day}T00:00:00.000Z"


def _build(job: tuple) -> tuple[str, bytes]:
    from nasctn_sea_ingest_spark.sources.synth import build_sigmf
    seed, i = job
    base = np.datetime64(day_start(seed).rstrip("Z"), "ms")
    ts = str(base + np.timedelta64(INTERVAL_S * i, "s")) + "Z"
    raw = build_sigmf(start_iso=ts, n_channels=N_CHANNELS, task=i + 1,
                      seed=seed * 100_003 + i, geometry=GEOMETRY)
    return f"sweep_{i + 1:04d}.sigmf", raw


def archive(cache_dir: str, seed: int) -> str:
    """Path of the seed's archive, generated on first use."""
    geo = "x".join(map(str, GEOMETRY))
    path = os.path.join(cache_dir, f"day_s{seed}_{N_FILES}f_{N_CHANNELS}c"
                                   f"_{geo}.zip")
    if os.path.exists(path):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    # fork, not spawn: no thread has started in this process yet, and a
    # spawn pool leaves multiprocessing's resource tracker running past
    # the run
    pool = get_context("fork").Pool(GEN_PROCS)
    try:
        blobs = pool.map(_build, [(seed, i) for i in range(N_FILES)],
                         chunksize=8)
    finally:
        pool.close()
        pool.join()
    tmp = path + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, raw in blobs:
            z.writestr(name, raw)
    os.replace(tmp, path)
    prune(cache_dir, "day_")
    return path


def prune(cache_dir: str, prefix: str) -> None:
    """Drop all but the ``KEEP_CACHED`` most recently used cached inputs
    whose names start with ``prefix``."""
    cached = sorted((os.path.join(cache_dir, f) for f in os.listdir(cache_dir)
                     if f.startswith(prefix) and not f.endswith(".tmp")),
                    key=os.path.getmtime)
    for old in cached[:-KEEP_CACHED]:
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.remove(old)


def members(path: str) -> list[tuple[str, bytes]]:
    with zipfile.ZipFile(path) as z:
        return [(n, z.read(n)) for n in z.namelist()]
