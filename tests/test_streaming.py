"""Structured Streaming ingest tests: availableNow micro-batches over a
landing directory, warehouse appends matching batch ingest, quarantine,
late-file pickup on a second trigger, and the watermarked daily rollup."""

import os

import numpy as np
import pytest
import pyspark.sql.functions as F

from nasctn_sea_ingest_spark.streaming import (
    daily_rollup,
    read_sigmf_stream,
    stream_to_warehouse,
)

from nasctn_sea_ingest_spark.sources.synth import build_sigmf, build_sweep_series

N1, N2 = 5, 3


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    landing = tmp_path_factory.mktemp("landing")
    wh = tmp_path_factory.mktemp("wh")
    ckpt = tmp_path_factory.mktemp("ckpt")
    return str(landing), str(wh), str(ckpt)


def _run(spark, landing, wh, ckpt):
    q = stream_to_warehouse(spark, landing, wh, ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_ingest_and_late_files(spark, dirs):
    landing, wh, ckpt = dirs
    build_sweep_series(landing, N1)
    (os.path.join(landing, "poison.sigmf"))
    with open(os.path.join(landing, "poison.sigmf"), "wb") as f:
        f.write(build_sigmf(bad_hash=True))

    _run(spark, landing, wh, ckpt)
    traces = spark.read.parquet(os.path.join(wh, "traces"))
    # 5 good sweeps × 3 channels × 11 traces
    assert traces.count() == N1 * 3 * 11
    q = spark.read.parquet(os.path.join(wh, "quarantine"))
    assert q.count() == 1 and "sha512" in q.first().error

    # late-arriving files from the previous day: second availableNow run
    # picks up ONLY the new files (checkpointed source tracking)
    build_sweep_series(landing, N2, start_iso="2023-09-16T23:00:00.000Z",
                       prefix="late")
    _run(spark, landing, wh, ckpt)
    traces = spark.read.parquet(os.path.join(wh, "traces"))
    assert traces.count() == (N1 + N2) * 3 * 11
    # the late files landed in their own (earlier) date partition
    dates = {str(r.date) for r in traces.select("date").distinct().collect()}
    assert dates == {"2023-09-16", "2023-09-17"}
    # no duplicates: every (source_file, table, datetime, frequency, stat,
    # detector) key appears once
    dup = (traces.groupBy("source_file", "table", "datetime", "frequency",
                          "capture_statistic", "detector")
           .count().where("count > 1"))
    assert dup.count() == 0


def test_stream_schema_matches_batch(spark, dirs, tmp_path_factory):
    landing, wh, _ = dirs
    from nasctn_sea_ingest_spark.sources.ingest import ingest
    bwh = str(tmp_path_factory.mktemp("batch_wh"))
    ingest(spark, landing, bwh)
    s = spark.read.parquet(os.path.join(wh, "traces"))
    b = spark.read.parquet(os.path.join(bwh, "traces"))
    assert dict(s.dtypes) == dict(b.dtypes)
    # identical decoded values for a shared file/key
    key = ["source_file", "table", "frequency", "capture_statistic", "detector"]
    sv = s.where("table = 'psd' AND capture_statistic = 'max'") \
        .orderBy("datetime", "frequency").select("values").first()
    bv = b.where("table = 'psd' AND capture_statistic = 'max'") \
        .orderBy("datetime", "frequency").select("values").first()
    assert np.allclose(sv["values"], bv["values"])


def test_incremental_capture_summary(spark, tmp_path_factory):
    """with_summary maintains capture_summary append-only across triggers;
    the union of increments equals the batch operator over all traces."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators import capture_summary

    landing = str(tmp_path_factory.mktemp("cs_landing"))
    wh = str(tmp_path_factory.mktemp("cs_wh"))
    ckpt = str(tmp_path_factory.mktemp("cs_ckpt"))
    build_sweep_series(landing, 3)
    q = stream_to_warehouse(spark, landing, wh, ckpt, available_now=True,
                            with_summary=True)
    q.awaitTermination(120)
    build_sweep_series(landing, 2, start_iso="2023-09-17T01:00:00.000Z",
                       prefix="more")
    q = stream_to_warehouse(spark, landing, wh, ckpt, available_now=True,
                            with_summary=True)
    q.awaitTermination(120)

    inc = spark.read.parquet(os.path.join(wh, "capture_summary"))
    assert inc.count() == 5 * 3  # one row per capture, no duplicates
    traces = spark.read.parquet(os.path.join(wh, "traces"))
    want = {(r.datetime, r.frequency): r.median_rms_pfp
            for r in capture_summary(traces).collect()}
    got = {(r.datetime, r.frequency): r.median_rms_pfp for r in inc.collect()}
    assert got == want


def test_gap_monitor_stateful(spark, tmp_path_factory):
    """applyInPandasWithState: the per-frequency last-timestamp state must
    survive micro-batch boundaries, so a gap BETWEEN two availableNow runs
    is detected on the second run."""
    from nasctn_sea_ingest_spark.streaming import gap_monitor

    landing = str(tmp_path_factory.mktemp("gap_landing"))
    out = str(tmp_path_factory.mktemp("gap_out"))
    ckpt = str(tmp_path_factory.mktemp("gap_ckpt"))

    def run_once():
        stream = read_sigmf_stream(spark, landing)
        q = (gap_monitor(stream).writeStream.outputMode("append")
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # run 1: clean 90 s cadence, no gaps
    build_sweep_series(landing, 4, start_iso="2023-09-17T00:00:00.000Z")
    run_once()
    assert spark.read.parquet(out).where("gap_seconds IS NOT NULL") \
        .count() == 0

    # run 2: next batch starts 30 min after run 1's last sweep → one gap
    # per frequency, spanning the two runs (state carried via checkpoint)
    build_sweep_series(landing, 2, start_iso="2023-09-17T00:34:30.000Z",
                       prefix="later")
    run_once()
    gaps = spark.read.parquet(out).where("gap_seconds IS NOT NULL").collect()
    by_freq = {r.frequency: r for r in gaps}
    assert len(by_freq) == 3  # one alarm per channel
    for r in gaps:
        assert 1500 < r.gap_seconds < 2100
        assert str(r.gap_start).startswith("2023-09-17 00:04:30")


def test_daily_rollup_stream(spark, tmp_path_factory):
    # its own landing: the N1 series, the poison file and the late N2 series
    from nasctn_sea_ingest_spark.sources.ingest import decode_dir

    landing = str(tmp_path_factory.mktemp("rollup_landing"))
    build_sweep_series(landing, N1)
    with open(os.path.join(landing, "poison.sigmf"), "wb") as f:
        f.write(build_sigmf(bad_hash=True))
    build_sweep_series(landing, N2, start_iso="2023-09-16T23:00:00.000Z",
                       prefix="late")
    out = str(tmp_path_factory.mktemp("rollup"))
    ckpt = str(tmp_path_factory.mktemp("rollup_ckpt"))

    def run_once():
        roll = daily_rollup(read_sigmf_stream(spark, landing))
        q = (roll.writeStream.outputMode("append")
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # append mode only emits windows the watermark (2 days behind the
    # latest capture) has closed: none after the first run, both days of
    # the first run after a capture three days later lands
    run_once()
    assert spark.read.parquet(out).count() == 0
    batch_files = set(os.listdir(landing))
    build_sweep_series(landing, 1, start_iso="2023-09-20T01:00:00.000Z",
                       prefix="next")
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {str(r.date) for r in rows} <= {"2023-09-16", "2023-09-17"}
    for r in rows:
        assert r.n_captures > 0
        assert r.max_capture_mean_db >= r.mean_power_db - 1e-9

    # batch recomputation over the first run's files: per-capture mean in
    # linear power, then the per-(day, frequency) count, mean and max
    ref = (decode_dir(spark, landing)
           .where(F.col("error").isNull() & (F.col("table") == "pfp")
                  & (F.col("capture_statistic") == "mean")
                  & (F.col("detector") == "rms"))
           .select(F.element_at(F.split("source_file", "/"), -1)
                   .alias("name"),
                   F.to_date("datetime").alias("date"), "frequency",
                   "values")
           .collect())
    caps = {}
    for r in ref:
        if r.name not in batch_files:
            continue
        cap_db = 10 * np.log10(np.mean(
            10 ** (np.asarray(r["values"], np.float64) / 10)))
        caps.setdefault((str(r.date), r.frequency), []).append(cap_db)
    assert len(caps) == 2 * 3       # two days x three channels
    got = {(str(r.date), r.frequency): r for r in rows}
    assert set(got) == set(caps)
    for key, cap_db in caps.items():
        r = got[key]
        assert r.n_captures == len(cap_db), key
        assert r.mean_power_db == pytest.approx(
            10 * np.log10(np.mean(10 ** (np.asarray(cap_db) / 10))),
            abs=1e-9), key
        assert r.max_capture_mean_db == pytest.approx(max(cap_db),
                                                      abs=1e-9), key


def test_dedup_stream(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark drops re-delivered byte-identical
    captures landed under new names; state is watermark-bounded."""
    import glob
    import shutil

    from nasctn_sea_ingest_spark.streaming import dedup_stream

    landing = str(tmp_path_factory.mktemp("dedup_landing"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    build_sweep_series(landing, 3)
    src = sorted(glob.glob(os.path.join(landing, "*.sigmf")))[0]
    shutil.copy(src, os.path.join(landing, "zz_reupload.sigmf"))

    stream = read_sigmf_stream(spark, landing)
    out = dedup_stream(stream).where(F.col("error").isNull())
    q = (out.writeStream.format("memory").queryName("dedup_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("dedup_t")
    # 4 files landed (one a re-upload) but only 3 sweeps' captures survive
    assert got.count() == 3 * 3 * 11
    keys = ["table", "datetime", "frequency", "capture_statistic",
            "detector", "kind"]
    assert got.select(*keys).distinct().count() == 3 * 3 * 11


def test_compact_warehouse(spark, tmp_path_factory):
    """Two streaming appends leave multiple files per partition; compaction
    rewrites each leaf to its byte-target file count without changing a row."""
    from nasctn_sea_ingest_spark.sources.ingest import compact_warehouse

    landing = str(tmp_path_factory.mktemp("cmp_landing"))
    wh = str(tmp_path_factory.mktemp("cmp_wh"))
    ckpt = str(tmp_path_factory.mktemp("cmp_ckpt"))
    build_sweep_series(landing, 3)
    _run(spark, landing, wh, ckpt)
    build_sweep_series(landing, 2, prefix="second")
    _run(spark, landing, wh, ckpt)

    tr = os.path.join(wh, "traces")
    before = spark.read.parquet(tr)
    n_before = before.count()
    key = ["table", "source_file", "datetime", "frequency",
           "capture_statistic", "detector", "kind"]
    keys_before = sorted(map(tuple, before.select(*key).collect()))

    log = compact_warehouse(spark, tr)
    assert (log["n_files_after"] <= log["n_files_before"]).all()
    assert (log["n_files_after"] == 1).all()      # tiny data → one file/leaf
    assert (log["n_files_before"] > 1).any()      # something was compacted

    after = spark.read.parquet(tr)
    assert after.count() == n_before
    assert sorted(map(tuple, after.select(*key).collect())) == keys_before
    # re-run is a no-op
    log2 = compact_warehouse(spark, tr)
    assert (log2["n_files_before"] == log2["n_files_after"]).all()


def test_document_stream(spark, tmp_path_factory):
    """JSONL landing dir → streaming quality gate + PII scrub + doc_id
    dedup: same column-expression operators as the batch pipeline."""
    import json

    from nasctn_sea_ingest_spark.streaming import document_stream

    landing = tmp_path_factory.mktemp("docs_landing")
    ckpt = str(tmp_path_factory.mktemp("docs_ckpt"))
    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks away to the river for a drink of water")
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z", "lang": "en",
         "text": good + " mail me at a@b.co"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z", "lang": "en",
         "text": "z z z z z z"},                         # fails quality
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z", "lang": "en",
         "text": good + " mail me at a@b.co"},           # re-delivery
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z", "lang": "en",
         "text": good},
    ]
    with open(landing / "a.jsonl", "w") as f:
        for r in rows[:2]:
            f.write(json.dumps(r) + "\n")
    with open(landing / "b.jsonl", "w") as f:
        for r in rows[2:]:
            f.write(json.dumps(r) + "\n")

    q = (document_stream(spark, str(landing))
         .writeStream.format("memory").queryName("doc_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: r.text for r in spark.table("doc_t").collect()}
    assert set(got) == {1, 3}             # dup dropped, low-quality dropped
    assert "[EMAIL]" in got[1] and "a@b.co" not in got[1]


def test_session_rollup_stream(spark, tmp_path_factory):
    """Two bursts of sweeps separated by >gap must close into separate
    sessions per frequency; a third burst past the watermark horizon
    finalizes the earlier windows in append mode."""
    from nasctn_sea_ingest_spark.streaming import session_rollup

    landing = str(tmp_path_factory.mktemp("sess_landing"))
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))
    # burst 1: 4 sweeps at 90 s cadence; burst 2: 3 sweeps an hour later;
    # day-later burst advances the watermark past both
    build_sweep_series(landing, 4, start_iso="2023-09-16T00:00:00.000Z",
                       prefix="a")
    build_sweep_series(landing, 3, start_iso="2023-09-16T01:00:00.000Z",
                       prefix="b")
    build_sweep_series(landing, 1, start_iso="2023-09-18T12:00:00.000Z",
                       prefix="c")

    stream = read_sigmf_stream(spark, landing)
    sess = session_rollup(stream, gap="10 minutes", watermark="1 day")
    q = (sess.writeStream.outputMode("append")
         .format("memory").queryName("sess_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("sess_t").collect()
    by_start = {}
    for r in got:
        by_start.setdefault(str(r.session_start), []).append(r)
    # the two 2023-09-16 sessions are closed (watermark passed); per
    # frequency each burst is one session with the burst's capture count
    starts = sorted(by_start)
    assert any(s.startswith("2023-09-16 00:00") for s in starts)
    assert any(s.startswith("2023-09-16 01:00") for s in starts)
    for s, rows in by_start.items():
        n = {r.n_captures for r in rows}
        if s.startswith("2023-09-16 00:00"):
            assert n == {4}
        if s.startswith("2023-09-16 01:00"):
            assert n == {3}
        for r in rows:
            assert r.session_end > r.session_start


def test_calibration_join_stream(spark, tmp_path_factory):
    """Stream-stream interval join: each capture picks up the calibration
    records (same frequency) whose cal_ts lies within the tolerance window
    before it; a cal outside the window or on another frequency never
    matches."""
    import json

    from nasctn_sea_ingest_spark.streaming import calibration_join

    landing = str(tmp_path_factory.mktemp("cal_landing"))
    cal_dir = str(tmp_path_factory.mktemp("cal_records"))
    ckpt = str(tmp_path_factory.mktemp("cal_ckpt"))
    # 3 sweeps at 90 s cadence from 00:00; 3 channels
    build_sweep_series(landing, 3, start_iso="2023-09-16T00:00:00.000Z")
    f0 = 3.545e9
    cals = [
        # matches all 3 captures of channel f0 (within 1 h before each)
        {"cal_ts": "2023-09-15T23:30:00Z", "frequency": f0, "nf_db": 5.0},
        # matches only the 3rd capture (00:03 onward) of f0+10MHz
        {"cal_ts": "2023-09-16T00:02:45Z", "frequency": f0 + 10e6,
         "nf_db": 6.0},
        # too old: outside every capture's 1 h window
        {"cal_ts": "2023-09-15T20:00:00Z", "frequency": f0, "nf_db": 9.9},
    ]
    with open(os.path.join(cal_dir, "cal.jsonl"), "w") as f:
        for c in cals:
            f.write(json.dumps(c) + "\n")

    traces = read_sigmf_stream(spark, landing).where(
        (F.col("error").isNull()) & (F.col("table") == "psd")
        & (F.col("capture_statistic") == "max"))
    cal = (spark.readStream.format("json")
           .schema("cal_ts TIMESTAMP, frequency DOUBLE, nf_db DOUBLE")
           .load(cal_dir))
    joined = calibration_join(traces, cal, tolerance="1 hour")
    q = (joined.writeStream.format("memory").queryName("cal_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("cal_t").select("datetime", "frequency", "nf_db") \
        .collect()
    by_nf = {}
    for r in got:
        by_nf.setdefault(r.nf_db, set()).add((str(r.datetime), r.frequency))
    assert 9.9 not in by_nf                      # stale cal never matches
    assert len(by_nf.get(5.0, set())) == 3       # all three f0 captures
    assert len(by_nf.get(6.0, set())) == 1       # only the late capture
    assert all(f == f0 for _, f in by_nf[5.0])
    assert all(f == f0 + 10e6 for _, f in by_nf[6.0])


def test_minhash_signature_expr_parity(spark):
    """The stateless expression signature must be bit-identical to the
    batch groupBy signature (same hash family) — index compatibility."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators import dedup as DD
    texts = [
        (1, "the quick brown fox jumps over the lazy dog near the bank"),
        (2, "pack my box with five dozen liquor jugs for the long trip"),
        (3, "the quick brown fox jumps over the lazy dog near the bend"),
        (4, "to be"),            # < n tokens: no gram
    ]
    d = spark.createDataFrame(texts, "doc_id long, text string")
    batch = {r.id: list(r.sig)
             for r in DD.minhash_signatures(d, n_hashes=8).collect()}
    expr = {r.doc_id: list(r.sig) for r in
            d.select("doc_id", DD.minhash_signature_expr(
                "text", n_hashes=8).alias("sig")).collect()}
    assert set(batch) == {1, 2, 3}        # doc 4 has no gram → no batch row
    for k, v in batch.items():
        assert expr[k] == v
    assert expr[4][0] is None             # expression path: null signature


def test_neardup_stream(spark, tmp_path_factory):
    """Arriving docs probe the static LSH band index: a near-copy of an
    indexed doc is flagged with its source; novel docs pass silently."""
    import json

    from nasctn_sea_ingest_spark.operators.dedup import minhash_band_index
    from nasctn_sea_ingest_spark.streaming import neardup_stream

    base = ("the quick brown fox jumps over the lazy dog and runs into "
            "the deep green forest before the rain starts falling hard")
    corpus = spark.createDataFrame(
        [(100, base),
         (101, "completely different text about spark query engines and "
               "the planning of distributed joins across many machines")],
        "doc_id long, text string")
    index = minhash_band_index(corpus)

    landing = tmp_path_factory.mktemp("nd_landing")
    ckpt = str(tmp_path_factory.mktemp("nd_ckpt"))
    rows = [
        {"doc_id": 7, "text": base.replace("hard", "softly")},  # near-dup
        {"doc_id": 8, "text": "a totally novel document that resembles "
                              "nothing stored in the corpus index at all "
                              "and speaks only of gardening in winter"},
    ]
    with open(landing / "a.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (spark.readStream.format("json")
              .schema("doc_id BIGINT, text STRING")
              .option("pathGlobFilter", "*.jsonl").load(str(landing)))
    q = (neardup_stream(stream, index)
         .writeStream.format("memory").queryName("nd_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("nd_t").collect()
    flagged = {(r.doc_id, r.matched_id) for r in got}
    assert (7, 100) in flagged            # near-copy matched to its source
    assert all(d != 8 for d, _ in flagged)  # novel doc unflagged


def test_sliding_rollup_stream(spark, tmp_path_factory):
    """Sliding windows overlap: each capture lands in window/slide
    windows, and every window's dB mean is finite."""
    from nasctn_sea_ingest_spark.streaming import (read_sigmf_stream,
                                                   sliding_rollup)
    landing = str(tmp_path_factory.mktemp("slide_landing"))
    build_sweep_series(landing, 5)
    ckpt = str(tmp_path_factory.mktemp("slide_ckpt"))
    stream = read_sigmf_stream(spark, landing)
    roll = sliding_rollup(stream, window="1 hour", slide="30 minutes",
                          watermark="0 seconds")
    # complete mode: assert window semantics without waiting for the
    # watermark to close trailing windows (append-mode emission timing is
    # covered by test_daily_rollup_stream)
    q = (roll.writeStream.outputMode("complete")
         .format("memory").queryName("slide_t")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("slide_t").collect()
    assert rows
    import math
    for r in rows:
        assert r.n_captures > 0 and math.isfinite(r.mean_power_db)
        assert (r.window_end - r.window_start).total_seconds() == 3600
    # overlap: some capture time is covered by >= 2 windows (slide < window)
    spans = {(r.window_start, r.window_end) for r in rows}
    assert len(spans) >= 2


def test_upsert_stream_last_wins_snapshot(spark, tmp_path):
    """Two micro-batches of keyed updates -> snapshot holds exactly the
    last-wins row per key; only touched buckets rewrite; a later batch
    updates existing keys and inserts new ones."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.streaming import upsert_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "snap")
    ckpt1, ckpt2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    os.makedirs(land)
    schema = "k long, v long, payload string"
    wave1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b"), (2, 12, "b2"), (3, 13, "c")], schema)
    wave1.coalesce(1).write.mode("append").parquet(land)

    def run(ck):
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = upsert_stream(stream, out, ck, keys=["k"],
                          order_by=["v", "payload"], n_buckets=8,
                          available_now=True)
        q.awaitTermination(120)

    run(ckpt1)
    snap1 = {r.k: (r.v, r.payload)
             for r in spark.read.parquet(out).collect()}
    assert snap1 == {1: (10, "a"), 2: (12, "b2"), 3: (13, "c")}

    # wave 2: update k=2 (higher v), stale update for k=3 (lower v — must
    # NOT win), insert k=9
    wave2 = spark.createDataFrame(
        [(2, 20, "B"), (3, 5, "stale"), (9, 21, "i")], schema)
    wave2.coalesce(1).write.mode("append").parquet(land)
    run(ckpt2)  # fresh checkpoint: re-processes everything idempotently
    snap2 = {r.k: (r.v, r.payload)
             for r in spark.read.parquet(out).collect()}
    assert snap2 == {1: (10, "a"), 2: (20, "B"), 3: (13, "c"),
                     9: (21, "i")}
    # bucketed layout on disk
    kbs = {r.kb for r in spark.read.parquet(out).select("kb").collect()}
    assert kbs <= set(range(8))


def _delete_commit_marker(ckpt):
    """Simulate a crash after the sink write but before the checkpoint
    commit: drop the newest commits/N marker (and its local-FS .crc
    sidecar, which only exists on ChecksumFileSystem — a real HDFS/S3
    checkpoint has no such artifact)."""
    cdir = os.path.join(ckpt, "commits")
    latest = sorted(f for f in os.listdir(cdir) if not f.startswith("."))[-1]
    os.remove(os.path.join(cdir, latest))
    crc = os.path.join(cdir, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_upsert_stream_crash_replay_idempotent(spark, tmp_path):
    """Exactly-once audit: crash AFTER the batch's snapshot write but
    BEFORE the checkpoint commit (the replay window) must not duplicate
    or lose rows.  Simulated faithfully: run a batch, delete its
    ``commits/N`` marker (offsets stay), restart from the checkpoint —
    Structured Streaming re-executes the same batch against the
    already-updated snapshot; last-wins MERGE makes the rewrite
    idempotent.

    The session-wide HDFSMetadataLog cache would mask the replay (it
    remembers the deleted commit file); a real crash kills the JVM and
    that cache with it, so disabling it here is the faithful simulation.
    """
    from nasctn_sea_ingest_spark.streaming import upsert_stream

    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    land = str(tmp_path / "land")
    out = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "k long, v long, payload string"
    spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b"), (3, 13, "c")], schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = upsert_stream(stream, out, ckpt, keys=["k"],
                          order_by=["v", "payload"], n_buckets=8,
                          available_now=True)
        q.awaitTermination(120)
        q.stop()  # release the checkpoint registration before a restart
        q.awaitTermination(30)

    run()
    snap1 = sorted((r.k, r.v, r.payload)
                   for r in spark.read.parquet(out).collect())
    assert [t[0] for t in snap1] == [1, 2, 3]

    # crash window: the snapshot write landed, the commit marker did not
    _delete_commit_marker(ckpt)
    run()  # restart → replays the uncommitted batch over the new snapshot
    snap2 = sorted((r.k, r.v, r.payload)
                   for r in spark.read.parquet(out).collect())
    assert snap2 == snap1  # no dup keys, no lost rows, same values

    # post-replay liveness: a genuinely new batch still applies exactly once
    spark.createDataFrame([(2, 20, "B"), (9, 21, "i")], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    snap3 = {r.k: (r.v, r.payload)
             for r in spark.read.parquet(out).collect()}
    assert snap3 == {1: (10, "a"), 2: (20, "B"), 3: (13, "c"),
                     9: (21, "i")}
    spark.conf.unset("spark.sql.streaming.metadataCache.enabled")


@pytest.mark.parametrize("left_behind", ["_upsert_meta",
                                         "_store_geometry.json"])
def test_upsert_stream_restarts_after_meta_only_crash(spark, tmp_path,
                                                      left_behind):
    """A crash between the layout stamp and the first snapshot write
    leaves a dir holding only that stamp: the ``_store_geometry.json``
    manifest, or the ``_upsert_meta`` sidecar of a store written before
    the manifest.  The replayed batch must read either as an empty
    snapshot and land its rows — not fail every restart on the parquet
    reader's UNABLE_TO_INFER_SCHEMA."""
    import json

    from nasctn_sea_ingest_spark.streaming import upsert_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "k long, v long, payload string"
    spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b"), (1, 12, "c")], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    if left_behind == "_upsert_meta":
        spark.createDataFrame([(8,)], "n_buckets int").coalesce(1) \
            .write.json(os.path.join(out, left_behind))
    else:
        os.makedirs(out)
        with open(os.path.join(out, left_behind), "w") as fh:
            json.dump({"kind": "upsert", "n_buckets": 8}, fh)

    stream = spark.readStream.schema(schema).parquet(land)
    q = upsert_stream(stream, out, ckpt, keys=["k"],
                      order_by=["v", "payload"], n_buckets=8,
                      available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
        q.awaitTermination(30)
    snap = {r.k: (r.v, r.payload)
            for r in spark.read.parquet(out).collect()}
    assert snap == {1: (12, "c"), 2: (11, "b")}


def test_sketch_rollup_stream_crash_replay_bounded(spark, tmp_path):
    """Same replay window for the HLL rollup: re-unioning a batch's
    sketch into a snapshot that already contains it is a register-max
    merge — the estimate must be bit-identical after replay."""
    from nasctn_sea_ingest_spark.streaming import sketch_rollup_stream

    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    land = str(tmp_path / "land")
    out = str(tmp_path / "sk")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "etype string, user long"
    spark.createDataFrame([("A", u) for u in range(200)], schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = sketch_rollup_stream(stream, out, ckpt, keys=["etype"],
                                 value_col="user", available_now=True)
        q.awaitTermination(120)
        q.stop()  # release the checkpoint registration before a restart
        q.awaitTermination(30)

    def estimate():
        return spark.read.parquet(out).select(
            F.expr("hll_sketch_estimate(sketch)").alias("e")).first().e

    run()
    est1 = estimate()
    _delete_commit_marker(ckpt)
    run()  # replay the batch into the already-merged snapshot
    assert estimate() == est1
    assert spark.read.parquet(out).count() == 1  # still one row per key
    spark.conf.unset("spark.sql.streaming.metadataCache.enabled")


def test_sketch_rollup_stream_incremental_distinct(spark, tmp_path):
    """Streaming HLL maintenance: per-key sketches union across
    micro-batches (and across full idempotent reprocessing — distinct
    counting is re-union-safe), estimates track exact distincts, state
    stays one sketch row per key."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.streaming import sketch_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "sk")
    os.makedirs(land)
    schema = "etype string, user long"
    wave1 = spark.createDataFrame(
        [("A", u) for u in range(200)] + [("B", u) for u in range(50)],
        schema)
    wave1.coalesce(1).write.mode("append").parquet(land)

    def run(ck):
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = sketch_rollup_stream(stream, out, str(tmp_path / ck),
                                 keys=["etype"], value_col="user",
                                 available_now=True)
        q.awaitTermination(120)

    run("c1")
    est1 = {r.etype: r.est for r in
            spark.read.parquet(out)
                 .select("etype", F.expr("hll_sketch_estimate(sketch)")
                         .alias("est")).collect()}
    assert abs(est1["A"] - 200) <= 10 and abs(est1["B"] - 50) <= 4

    # wave 2 overlaps wave 1 (users 150..299 for A): distinct grows to 300
    wave2 = spark.createDataFrame(
        [("A", u) for u in range(150, 300)], schema)
    wave2.coalesce(1).write.mode("append").parquet(land)
    run("c2")  # fresh checkpoint: full reprocess must stay correct
    snap = spark.read.parquet(out)
    assert snap.count() == 2                     # one sketch row per key
    est2 = {r.etype: r.est for r in
            snap.select("etype", F.expr("hll_sketch_estimate(sketch)")
                        .alias("est")).collect()}
    assert abs(est2["A"] - 300) <= 15
    assert abs(est2["B"] - 50) <= 4


def _rollup_run(spark, face, land, out, ckpt, n_buckets,
                max_files_per_trigger=None):
    """One available_now run of the upsert, sketch or quantile face of
    the key-bucketed snapshot; returns the stopped query."""
    from nasctn_sea_ingest_spark.streaming import (quantile_rollup_stream,
                                                   sketch_rollup_stream,
                                                   upsert_stream)
    reader = spark.readStream.schema("key string, v long")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if face == "upsert":
        q = upsert_stream(reader.parquet(land), out, ckpt, keys=["key"],
                          order_by=["v"], n_buckets=n_buckets,
                          available_now=True)
    else:
        start = sketch_rollup_stream if face == "sketch" \
            else quantile_rollup_stream
        q = start(reader.parquet(land), out, ckpt, keys=["key"],
                  value_col="v", n_buckets=n_buckets, available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return q


def _forty_keys(spark, land):
    spark.createDataFrame([(f"k{i}", i) for i in range(40)],
                          "key string, v long") \
        .coalesce(1).write.mode("append").parquet(land)


@pytest.mark.parametrize("face", ["upsert", "sketch", "quantile"])
def test_rollup_restart_with_other_n_buckets_raises(spark, tmp_path, face):
    """The key-bucketed snapshots bake n_buckets into kb: 40 keys at
    n_buckets=16, then the same keys after a restart at 8, must fail on
    the store's geometry — without the guard the second rollup run gave
    57 rows for 40 keys."""
    land, out, ckpt = (str(tmp_path / d) for d in ("land", "out", "ck"))
    _forty_keys(spark, land)
    _rollup_run(spark, face, land, out, ckpt, 16)
    _forty_keys(spark, land)
    with pytest.raises(Exception, match="geometry mismatch"):
        _rollup_run(spark, face, land, out, ckpt, 8)
    assert spark.read.parquet(out).count() == 40


@pytest.mark.parametrize("face,jobs", [("upsert", 14), ("sketch", 14),
                                       ("quantile", 21)])
def test_rollup_new_store_first_trigger_jobs(spark, tmp_path, face, jobs):
    """Spark jobs of a two-batch available_now run into a new store: on
    the first trigger the store dir holds only its geometry manifest,
    which answers "no data yet" without a schema-inference job, and a
    later trigger reads the layout from the manifest without a Spark job
    (upsert's ``_upsert_meta`` sidecar cost 3 more)."""
    land, out, ckpt = (str(tmp_path / d) for d in ("land", "out", "ck"))
    _forty_keys(spark, land)
    _forty_keys(spark, land)
    q = _rollup_run(spark, face, land, out, ckpt, 16,
                    max_files_per_trigger=1)
    assert q.lastProgress["batchId"] == 1
    run_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(q.runId))
    assert len(run_jobs) == jobs
    assert spark.read.parquet(out).count() == 40


@pytest.mark.parametrize("face", ["upsert", "sketch"])
def test_rollup_unstamped_store_is_checked_before_stamp(spark, tmp_path,
                                                        face):
    """A store with data but no geometry manifest (written before these
    stores recorded one; an upsert store then carried an ``_upsert_meta``
    sidecar) is stamped only after its kb values check out: a restart at
    another n_buckets raises, one at the store's own n_buckets stamps it
    and merges."""
    land, out, ckpt = (str(tmp_path / d) for d in ("land", "out", "ck"))
    _forty_keys(spark, land)
    _rollup_run(spark, face, land, out, ckpt, 16)
    manifest = os.path.join(out, "_store_geometry.json")
    os.remove(manifest)
    if face == "upsert":
        spark.createDataFrame([(16,)], "n_buckets int").coalesce(1) \
            .write.json(os.path.join(out, "_upsert_meta"))
    _forty_keys(spark, land)
    with pytest.raises(Exception, match="geometry mismatch"):
        _rollup_run(spark, face, land, out, ckpt, 8)
    assert not os.path.exists(manifest)
    _rollup_run(spark, face, land, out, ckpt, 16)
    assert os.path.exists(manifest)
    assert spark.read.parquet(out).count() == 40


def test_heavy_hitters_stream_exact_and_bounded(spark, tmp_path):
    """transformWithStateInPandas Misra-Gries summary: with capacity >=
    distinct items the estimates are EXACT vs batch groupBy counts and
    survive micro-batch boundaries (state carried); with a tight
    capacity the classic bound holds (est <= true, every item with
    true freq > N/(cap+1) retained)."""
    from collections import Counter

    from nasctn_sea_ingest_spark.streaming import heavy_hitters_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "hh")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "etype string, item string"
    # zipf-ish: item_i appears (20 - i) times
    wave1 = [("A", f"it{i:02d}") for i in range(12) for _ in range(20 - i)]
    wave2 = [("A", f"it{i:02d}") for i in range(6) for _ in range(10)] + \
            [("B", "solo")] * 7
    spark.createDataFrame(wave1, schema).coalesce(1) \
        .write.mode("append").parquet(land)

    def run(capacity, k, out_dir, ck):
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = (heavy_hitters_stream(stream, "etype", "item",
                                  capacity=capacity, k=k)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run(64, 5, out, ckpt)
    spark.createDataFrame(wave2, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run(64, 5, out, ckpt)  # second trigger: state must carry over

    true = Counter((e, i) for e, i in wave1 + wave2)
    snap = spark.read.parquet(out)
    # latest batch per key = rows with the max n_processed for that key
    latest = {r.etype: [] for r in snap.collect()}
    by_key_n = {}
    for r in snap.collect():
        by_key_n.setdefault(r.etype, 0)
        by_key_n[r.etype] = max(by_key_n[r.etype], r.n_processed)
    for r in snap.collect():
        if r.n_processed == by_key_n[r.etype]:
            latest[r.etype].append(r)
    a = sorted(latest["A"], key=lambda r: r.rank)
    # exact mode: top-5 of A = it00..it04 with cumulative true counts
    want = Counter()
    for e, i in wave1 + wave2:
        if e == "A":
            want[i] += 1
    top5 = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.item, r.est) for r in a] == top5
    assert [r for r in latest["B"]][0].item == "solo"
    assert latest["B"][0].est == 7

    # tight capacity: MG bound, never overestimates, big items retained
    out2, ck2 = str(tmp_path / "hh2"), str(tmp_path / "ck2")
    run(4, 4, out2, ck2)
    snap2 = spark.read.parquet(out2)
    rows = [r for r in snap2.collect() if r.etype == "A"
            if r.n_processed == max(x.n_processed for x in snap2.collect()
                                    if x.etype == "A")]
    n_a = rows[0].n_processed
    bound = n_a / (4 + 1)
    kept = {r.item: r.est for r in rows}
    for it, est in kept.items():
        assert est <= want[it], (it, est, want[it])
    for it, cnt in want.items():
        if cnt > bound:
            assert it in kept, (it, cnt, bound)


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs the protobuf wire layer; "
           "this container ships without it (the GroupState fallback is "
           "covered by test_heavy_hitters_stream_exact_and_bounded). "
           "Gated like the partsupp TPC-H quartet: the day the "
           "environment ships protobuf, this exercises the tws path "
           "for free.")
def test_heavy_hitters_tws_path(spark, tmp_path):
    """Same Misra-Gries summary through the Spark 4.x typed-state API
    (api='tws'): exact top-k parity vs batch counts across two
    micro-batches, state carried in a ValueState."""
    from collections import Counter

    from nasctn_sea_ingest_spark.streaming import heavy_hitters_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "hh_tws")
    ckpt = str(tmp_path / "ck_tws")
    os.makedirs(land)
    schema = "etype string, item string"
    wave1 = [("A", f"it{i:02d}") for i in range(8) for _ in range(9 - i)]
    wave2 = [("A", "it00")] * 4 + [("B", "solo")] * 3
    spark.createDataFrame(wave1, schema).coalesce(1) \
        .write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = (heavy_hitters_stream(stream, "etype", "item",
                                  capacity=64, k=3, api="tws")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run()
    spark.createDataFrame(wave2, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()  # state must carry across the restart

    snap = spark.read.parquet(out).collect()
    n_max = max(r.n_processed for r in snap if r.etype == "A")
    latest_a = sorted((r for r in snap
                       if r.etype == "A" and r.n_processed == n_max),
                      key=lambda r: r.rank)
    want = Counter(i for e, i in wave1 + wave2 if e == "A")
    top3 = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r.item, r.est) for r in latest_a] == top3


def test_weighted_reservoir_stream_matches_batch(spark, tmp_path):
    """Streaming A-ES weighted reservoir: the final per-key reservoir
    after two micro-batches EQUALS the batch Efraimidis-Spirakis top-r
    over the union of both waves (deterministic md5 uniforms make the
    sample a pure running top-r — exactly mergeable), and state carries
    across the restart."""
    import hashlib
    import math

    from nasctn_sea_ingest_spark.streaming import weighted_reservoir_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "wr")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "lang string, doc string, w double"
    wave1 = [("en", f"d{i:03d}", float(10 + (i * 37) % 90))
             for i in range(40)] + \
            [("fr", f"f{i:03d}", float(5 + i)) for i in range(6)]
    wave2 = [("en", f"d{i:03d}", float(10 + (i * 37) % 90))
             for i in range(40, 70)] + \
            [("fr", f"f{i:03d}", float(5 + i)) for i in range(6, 9)]
    spark.createDataFrame(wave1, schema).coalesce(1) \
        .write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = (weighted_reservoir_stream(stream, "lang", "doc", "w", r=8)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run()
    spark.createDataFrame(wave2, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()  # reservoir must merge with carried state, not restart

    def es(ident, w):
        u = (int(hashlib.md5(ident.encode()).hexdigest()[:13], 16)
             + 1.0) / 4503599627370497.0
        return -math.log(u) / w

    snap = spark.read.parquet(out).collect()
    for lang, rows in (("en", wave1 + wave2), ("fr", wave1 + wave2)):
        pool = [(d, w) for lg, d, w in rows if lg == lang]
        want = sorted(((es(d, w), d, w) for d, w in pool))[:8]
        n_max = max(r.n_seen for r in snap if r.lang == lang)
        got = sorted((r for r in snap
                      if r.lang == lang and r.n_seen == n_max),
                     key=lambda r: r.rank)
        assert n_max == len(pool)
        assert [(r.id, r.weight) for r in got] == \
            [(d, w) for _, d, w in want]
        for r, (k, _, _) in zip(got, want):
            assert abs(r.es_key - k) < 1e-12


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs the protobuf wire layer; "
           "this container ships without it (the GroupState fallback is "
           "covered by test_weighted_reservoir_stream_matches_batch).")
def test_weighted_reservoir_tws_path(spark, tmp_path):
    """Same reservoir through the Spark 4.x typed-state API."""
    import hashlib
    import math

    from nasctn_sea_ingest_spark.streaming import weighted_reservoir_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "wr_tws")
    ckpt = str(tmp_path / "ck_tws")
    os.makedirs(land)
    schema = "lang string, doc string, w double"
    wave = [("en", f"d{i:03d}", float(1 + i)) for i in range(20)]
    spark.createDataFrame(wave, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    stream = spark.readStream.schema(
        spark.read.parquet(land).schema).parquet(land)
    q = (weighted_reservoir_stream(stream, "lang", "doc", "w", r=5,
                                   api="tws")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    q.awaitTermination(30)

    def es(ident, w):
        u = (int(hashlib.md5(ident.encode()).hexdigest()[:13], 16)
             + 1.0) / 4503599627370497.0
        return -math.log(u) / w

    want = sorted((es(d, w), d) for _, d, w in wave)[:5]
    got = sorted(spark.read.parquet(out).collect(),
                 key=lambda r: r.rank)
    assert [r.id for r in got] == [d for _, d in want]


def test_cusum_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming CUSUM vs a batch baseline: after two in-order waves
    the carried cusum equals the python-computed batch value (integer-
    exact centering — no cross-batch float drift), and the alert fires
    only after the planted level shift in wave 2."""
    from nasctn_sea_ingest_spark.streaming import cusum_monitor_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "cu")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "k string, ord bigint, v double"
    # baseline window: stable around 10.00 for both keys
    base_rows = [("A", i, 10.0 + (i % 3) * 0.01) for i in range(30)] + \
                [("B", i, 20.0) for i in range(10)]
    # wave 2: A shifts up hard; B stays on baseline; C is a brand-new
    # key with NO baseline row (must alarm, not vanish — round-5
    # advisor: the inner join silently dropped it)
    wave2 = [("A", 100 + i, 14.0) for i in range(10)] + \
            [("B", 100 + i, 20.0) for i in range(4)] + \
            [("C", 100 + i, 5.0) for i in range(3)]

    def stats(rows, key):
        vcs = [round(v * 100) for k, _, v in rows if k == key]
        return len(vcs), sum(vcs)

    base = spark.createDataFrame(
        [("A", *stats(base_rows, "A")), ("B", *stats(base_rows, "B"))],
        "k string, n_obs bigint, total_cents bigint")

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = (cusum_monitor_stream(stream, "k", "v", "ord", base,
                                  alert_scaled=10_000)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    spark.createDataFrame(base_rows, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    snap1 = {r.k: r for r in spark.read.parquet(out).collect()}
    # on-baseline wave: small cusum, no alert for either key
    assert not snap1["A"].alert and not snap1["B"].alert

    spark.createDataFrame(wave2, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()  # state must carry across the restart

    def batch_cusum(key):
        n, tot = stats(base_rows, key)
        cusum, peak = 0, 0
        rows = sorted(((o, round(v * 100))
                       for k, o, v in base_rows + wave2 if k == key))
        for _, vc in rows:
            cusum += vc * n - tot
            peak = max(peak, abs(cusum))
        return len(rows), cusum, peak

    snap = spark.read.parquet(out).collect()
    for key, shifted in (("A", True), ("B", False)):
        n_max = max(r.n_seen for r in snap if r.k == key)
        last = next(r for r in snap
                    if r.k == key and r.n_seen == n_max)
        want_n, want_cusum, want_peak = batch_cusum(key)
        assert (last.n_seen, last.cusum_scaled, last.max_abs_cusum) == \
            (want_n, want_cusum, want_peak)
        assert last.alert == shifted
        assert last.known_baseline

    # the unknown key surfaced with the unknown-baseline alarm and a
    # zero cusum (no baseline -> no drift measure; appearing IS the alert)
    unknown = [r for r in snap if r.k == "C"]
    assert unknown, "baseline-less key was dropped by the monitor"
    assert all(not r.known_baseline and r.alert for r in unknown)
    assert all(r.cusum_scaled == 0 and r.max_abs_cusum == 0
               for r in unknown)
    assert max(r.n_seen for r in unknown) == 3


def test_stateful_monitor_crash_replay(spark, tmp_path):
    """Crash-replay audit for the round-5 stateful monitors: delete the
    newest commit marker (sink wrote, checkpoint didn't) and restart.
    The state store must roll back to the pre-batch version and
    re-apply exactly once — the reservoir keeps its contents and the
    CUSUM does NOT double-add the replayed batch's deviations (the
    failure a naive externally-kept state would show).  Duplicate
    emitted rows in the append sink are permitted (consumers take the
    max-n_seen row, as here); duplicated STATE is not."""
    from nasctn_sea_ingest_spark.streaming import (cusum_monitor_stream,
                                                   weighted_reservoir_stream)

    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    land = str(tmp_path / "land")
    os.makedirs(land)
    schema = "k string, ord bigint, v double"
    rows = [("A", i, 10.0 + i) for i in range(12)]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    base = spark.createDataFrame(
        [("A", len(rows), sum(round(v * 100) for _, _, v in rows))],
        "k string, n_obs bigint, total_cents bigint")

    def run(kind, out, ckpt):
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        if kind == "res":
            df = weighted_reservoir_stream(stream, "k", "ord", "v", r=5)
        else:
            df = cusum_monitor_stream(stream, "k", "v", "ord", base)
        q = (df.writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    for kind, latest_cols in (
            ("res", lambda r: (r.id, r.es_key, r.rank)),
            ("cusum", lambda r: (r.cusum_scaled, r.max_abs_cusum))):
        out = str(tmp_path / f"out_{kind}")
        ckpt = str(tmp_path / f"ck_{kind}")
        run(kind, out, ckpt)
        snap1 = spark.read.parquet(out).collect()
        n1 = max(r.n_seen for r in snap1)
        state1 = sorted(latest_cols(r) for r in snap1 if r.n_seen == n1)
        _delete_commit_marker(ckpt)
        run(kind, out, ckpt)  # replay of the same batch
        snap2 = spark.read.parquet(out).collect()
        n2 = max(r.n_seen for r in snap2)
        state2 = sorted(latest_cols(r) for r in snap2 if r.n_seen == n2)
        # state version rolled back and re-applied exactly once:
        # n_seen unchanged (12, not 24) and identical latest state
        assert n2 == n1 == len(rows), (kind, n1, n2)
        assert state2 == state1, kind
    spark.conf.unset("spark.sql.streaming.metadataCache.enabled")


def test_capture_summary_stream_parity_and_replay(spark, tmp_path):
    """Incrementally maintained capture_summary (upsert form): after two
    landing waves the key-bucketed snapshot equals the batch operator
    over all traces, and the upsert_stream crash-replay audit holds —
    replaying the batch whose snapshot write landed but whose commit
    marker did not must not duplicate or lose capture rows."""
    from nasctn_sea_ingest_spark.operators import capture_summary
    from nasctn_sea_ingest_spark.streaming import (
        capture_summary_stream, read_sigmf_stream)

    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    landing = str(tmp_path / "land")
    out = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ck")
    os.makedirs(landing)

    def run():
        stream = read_sigmf_stream(spark, landing)
        q = capture_summary_stream(stream, out, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def snapshot():
        rows = spark.read.parquet(out).collect()
        keys = [(r.datetime, r.frequency) for r in rows]
        assert len(keys) == len(set(keys)), "duplicate capture keys"
        return {k: (r.median_rms_pfp, r.max_max_pfp, r.median_mean_power,
                    r.max_max_power)
                for k, r in zip(keys, rows)}

    build_sweep_series(landing, 3)
    run()
    build_sweep_series(landing, 2, start_iso="2023-09-17T01:00:00.000Z",
                       prefix="more")
    run()

    # stream == batch: decode everything through batch ingest and compare
    from nasctn_sea_ingest_spark.sources.ingest import ingest
    bwh = str(tmp_path / "batch_wh")
    ingest(spark, landing, bwh)
    traces = spark.read.parquet(os.path.join(bwh, "traces"))
    want = {(r.datetime, r.frequency):
            (r.median_rms_pfp, r.max_max_pfp, r.median_mean_power,
             r.max_max_power)
            for r in capture_summary(traces).collect()}
    got = snapshot()
    assert got == want

    # crash window: snapshot written, commit marker missing -> replay
    _delete_commit_marker(ckpt)
    run()
    assert snapshot() == want
    spark.conf.unset("spark.sql.streaming.metadataCache.enabled")


def test_occupancy_monitor_stream_matches_batch_sweep(spark, tmp_path):
    """Streaming peak-concurrency vs the batch endpoint sweep (q155
    semantics): after two in-order waves the carried (occupancy, peak,
    peak_at) equals the python net-delta sweep over all rows — including
    intervals that stay open ACROSS the wave boundary — and the state
    survives a crash-replay of the last batch."""
    from nasctn_sea_ingest_spark.streaming import occupancy_monitor_stream

    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    land = str(tmp_path / "land")
    out = str(tmp_path / "occ")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "k string, s bigint, e bigint"
    # wave 1: A ramps to 3 concurrent; one A interval spans far into
    # wave 2's time range; B stays at 1
    wave1 = [("A", 100, 200), ("A", 150, 2000), ("A", 160, 190),
             ("B", 100, 110)]
    # wave 2: overlaps the still-open A interval -> peak 3 again at 1500;
    # B reaches its peak 2
    wave2 = [("A", 1500, 1600), ("A", 1550, 1590),
             ("B", 1500, 1700), ("B", 1600, 1800)]

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = (occupancy_monitor_stream(stream, "k", "s", "e")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def batch_sweep(rows, key):
        deltas = {}
        for k, s, e in rows:
            if k != key:
                continue
            deltas[s] = deltas.get(s, 0) + 1
            deltas[e] = deltas.get(e, 0) - 1
        occ = peak = 0
        peak_at = -1
        for t in sorted(deltas):
            occ += deltas[t]
            if occ > peak:
                peak, peak_at = occ, t
        return peak, peak_at

    spark.createDataFrame(wave1, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    spark.createDataFrame(wave2, schema).coalesce(1) \
        .write.mode("append").parquet(land)
    run()

    def latest():
        snap = spark.read.parquet(out).collect()
        res = {}
        for k in ("A", "B"):
            rows = [r for r in snap if r.k == k]
            top = max(rows, key=lambda r: r.n_intervals)
            res[k] = (top.peak, top.peak_at, top.occupancy)
        return res

    got = latest()
    allr = wave1 + wave2
    assert got["A"][:2] == batch_sweep(allr, "A") == (3, 160)
    assert got["B"][:2] == batch_sweep(allr, "B") == (2, 1600)
    # current occupancy: A's 150->2000 interval is still open at the
    # last processed start (1550 pops nothing beyond closed ones)
    assert got["A"][2] == 3  # intervals 150-2000, 1500-1600, 1550-1590
    assert got["B"][2] == 2  # 1500-1700, 1600-1800 both open

    # crash window: sink wrote, checkpoint commit missing -> replay must
    # leave identical peaks (state rolled back with the commit)
    _delete_commit_marker(ckpt)
    run()
    assert latest() == got
    spark.conf.unset("spark.sql.streaming.metadataCache.enabled")


def test_quantile_rollup_stream_incremental_and_replay(spark, tmp_path):
    """Streaming quantile-sketch maintenance: per-key n is EXACT through
    merges (weights conserve), medians track exact quantiles within the
    sketch rank bound, a crash-replayed batch is skipped via the
    updated_batch guard (sketch merge is NOT re-merge-idempotent, so the
    guard — not the merge — carries replay safety), and later batches
    keep accumulating."""
    from nasctn_sea_ingest_spark.operators.sketch import \
        sketch_quantile_expr
    from nasctn_sea_ingest_spark.streaming import quantile_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "qs")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "etype string, v double"
    wave1 = [("A", float(i)) for i in range(1000)] + \
            [("B", float(i * 3)) for i in range(200)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = quantile_rollup_stream(stream, out, ckpt, keys=["etype"],
                                   value_col="v", k=128,
                                   available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def snap():
        return {r.etype: r for r in spark.read.parquet(out).select(
            "etype", "n", "updated_batch",
            sketch_quantile_expr("values", "weights", 0.5).alias("med"))
            .collect()}

    run()
    s1 = snap()
    assert s1["A"].n == 1000 and s1["B"].n == 200   # exact counts
    # rank bound: eps*n with eps = 2*log2(n/k)/k, k=128
    assert abs(s1["A"].med - 499.5) <= 1000 * 2 * np.log2(1000 / 128) / 128 + 2
    assert abs(s1["B"].med - 298.5) <= 200 * 2 / 128 * 3 + 3

    _delete_commit_marker(ckpt)
    run()  # replay batch 0: guard must skip already-merged keys
    s2 = snap()
    assert {k: (v.n, v.med) for k, v in s2.items()} == \
           {k: (v.n, v.med) for k, v in s1.items()}

    # wave 2: A grows by 1000 larger values -> n exact, median shifts up
    spark.createDataFrame([("A", float(1000 + i)) for i in range(1000)],
                          schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    s3 = snap()
    assert s3["A"].n == 2000 and s3["B"].n == 200
    assert s3["A"].updated_batch == 1 and s3["B"].updated_batch == 0
    eps_n = 2000 * 2 * np.log2(2000 / 128) / 128 + 2
    assert abs(s3["A"].med - 999.5) <= eps_n
    assert spark.read.parquet(out).count() == 2  # one row per key


def test_cm_rollup_stream_matches_batch_and_replay(spark, tmp_path):
    """Streaming Count-Min maintenance: because cell-merge is exact, the
    maintained snapshot must be CELL-IDENTICAL to a from-scratch sketch
    of everything that streamed; a crash-replayed batch is skipped via
    the last_batch stamp (cell sums double-count without it)."""
    from nasctn_sea_ingest_spark.operators.sketch import (cm_lookup,
                                                          cm_sketch)
    from nasctn_sea_ingest_spark.streaming import cm_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "cm")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "item string"
    wave1 = [(f"k{i % 17}",) for i in range(600)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = cm_rollup_stream(stream, out, ckpt, item_col="item",
                             depth=4, width=256, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def cells():
        return {(r.depth, r.bucket): r["count"] for r in
                spark.read.parquet(out).collect()}

    run()
    c1 = cells()
    _delete_commit_marker(ckpt)
    run()  # replay batch 0 -> stamp guard must skip it
    assert cells() == c1

    # wave 2 accumulates; snapshot == from-scratch sketch of all rows
    wave2 = [(f"k{i % 5}",) for i in range(300)]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    want = {(r.depth, r.bucket): r["count"] for r in cm_sketch(
        spark.createDataFrame(wave1 + wave2, schema), "item",
        4, 256).collect()}
    got = cells()
    assert got == want
    # and the snapshot answers lookups (est >= true for a hot key)
    q = spark.createDataFrame([("k0",)], schema)
    est = cm_lookup(spark.read.parquet(out).drop("last_batch"), q,
                    "item", 4, 256).first().cm_estimate
    true = sum(1 for (it,) in wave1 + wave2 if it == "k0")
    assert est >= true


def test_fingerprint_rollup_stream_matches_batch(spark, tmp_path):
    """Streaming fingerprint maintenance: after any number of append
    waves the maintained per-group digest equals table_fingerprint of
    every row that landed, row-for-row; replay is stamp-guarded (XOR
    double-fold would CANCEL the batch — worse than double count)."""
    from nasctn_sea_ingest_spark.functions import table_fingerprint
    from nasctn_sea_ingest_spark.streaming import fingerprint_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "fp")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "grp string, a string, b long"
    wave1 = [("g1", f"v{i}", i) for i in range(40)] + \
            [("g2", None, 7), ("g2", "x|y", None)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = fingerprint_rollup_stream(stream, out, ckpt,
                                      cols=["a", "b"], by=["grp"],
                                      available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def snap():
        return {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
                for r in spark.read.parquet(out).collect()}

    run()
    s1 = snap()
    _delete_commit_marker(ckpt)
    run()
    assert snap() == s1  # replay guard (XOR refold would zero g1/g2)

    wave2 = [("g1", "late", 99), ("g3", "new", 1)]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    want = {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
            for r in table_fingerprint(
                spark.createDataFrame(wave1 + wave2, schema),
                ["a", "b"], ["grp"]).collect()}
    assert snap() == want


def test_index_stream_matches_batch_build(spark, tmp_path):
    """Streaming inverted-index maintenance: after two append waves the
    snapshot's postings equal a from-scratch build_inverted_index over
    all docs, row-for-row; a re-delivered doc REPLACES its postings
    (last-wins by batch) instead of duplicating them."""
    from nasctn_sea_ingest_spark.operators.search import (
        build_inverted_index, conjunctive_search)
    from nasctn_sea_ingest_spark.streaming import index_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "idx")
    os.makedirs(land)
    schema = "doc_id long, text string"
    wave1 = [(1, "alpha beta beta"), (2, "beta gamma")]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run(ck):
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = index_stream(stream, out, str(tmp_path / ck),
                         n_buckets=8, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def postings():
        return {(r.tok, r.doc_id): (r.tfreq, r.dlen) for r in
                spark.read.parquet(out).collect()}

    run("c1")
    want1 = {(r.tok, r.doc_id): (r.tfreq, r.dlen) for r in
             build_inverted_index(
                 spark.createDataFrame(wave1, schema)).collect()}
    assert postings() == want1

    # wave 2: new doc 3 + re-delivered doc 2 that GREW (grow-only
    # contract) — doc 2's postings must be replaced, not duplicated
    wave2 = [(3, "delta alpha"), (2, "beta beta gamma delta")]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run("c1")
    final_docs = [(1, "alpha beta beta"), (3, "delta alpha"),
                  (2, "beta beta gamma delta")]
    want2 = {(r.tok, r.doc_id): (r.tfreq, r.dlen) for r in
             build_inverted_index(
                 spark.createDataFrame(final_docs, schema)).collect()}
    assert postings() == want2
    # and the live snapshot answers searches
    idx = spark.read.parquet(out)
    got = [(r.doc_id, r.score) for r in
           conjunctive_search(idx, ["beta", "gamma"], k=5).collect()]
    assert got == [(2, 3)]  # doc 2 only: tf(beta)=2 + tf(gamma)=1


def test_pca_moments_stream_matches_batch(spark, tmp_path):
    """Streaming PCA-moment maintenance: after two waves the stored
    (n, sums, Gram) equals the batch pca_moments over all vectors
    (exact n; float sums to 1e-9 relative), the refreshed model matches
    the batch fit, and crash replay is stamp-guarded."""
    import numpy as np
    from nasctn_sea_ingest_spark.operators.similarity import (
        pca_from_moments, pca_fit, pca_moments)
    from nasctn_sea_ingest_spark.streaming import pca_moments_stream

    rng = np.random.default_rng(41)
    land = str(tmp_path / "land")
    out = str(tmp_path / "mom")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "vec_id long, embedding array<float>"

    def mkvecs(n0, n):
        return [(n0 + i, [float(x) for x in rng.standard_normal(8)])
                for i in range(n)]

    wave1 = mkvecs(0, 300)
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = pca_moments_stream(stream, out, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def stored():
        r = spark.read.parquet(out).first()
        d = int(np.sqrt(len(r.g)))
        return int(r.n), np.array(r.s), np.array(r.g).reshape(d, d)

    run()
    s1 = stored()
    _delete_commit_marker(ckpt)
    run()
    s2 = stored()
    assert s2[0] == s1[0] and np.array_equal(s2[1], s1[1])

    wave2 = mkvecs(300, 200)
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    n, s, g = stored()
    bdf = spark.createDataFrame(wave1 + wave2, schema)
    bn, bs, bg = pca_moments(bdf)
    assert n == bn == 500
    assert np.allclose(s, bs, rtol=1e-9)
    assert np.allclose(g, bg, rtol=1e-9)
    mean_s, comp_s = pca_from_moments(n, s, g, 3)
    mean_b, comp_b = pca_fit(bdf, 3)
    assert np.allclose(mean_s, mean_b, atol=1e-9)
    assert np.allclose(comp_s, comp_b, atol=1e-7)


def test_media_dedup_stream_alerts_and_replay(spark, tmp_path):
    """Streaming image dedup: an in-batch duplicate pair and a
    cross-wave re-encode both raise alerts pointing at the FIRST
    occurrence; the hash store stays one row per distinct hash; a
    crash-replayed batch changes nothing (append-only store guarded by
    batch_id)."""
    import numpy as np
    from pyspark.sql import Row
    from nasctn_sea_ingest_spark.sources import multimodal as MM
    from nasctn_sea_ingest_spark.streaming import media_dedup_stream

    rng = np.random.default_rng(81)
    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)

    def img():
        return rng.integers(0, 200, (16, 16, 3)).astype(np.uint8)

    a, b, e = img(), img(), img()
    wave1 = [Row(media_id=1, kind="image", content=MM.encode_bmp(a),
                 meta=None),
             Row(media_id=2, kind="image", content=MM.encode_bmp(b),
                 meta=None),
             # in-batch duplicate pair: 5 duplicates 4
             Row(media_id=4, kind="image", content=MM.encode_bmp(e),
                 meta=None),
             Row(media_id=5, kind="image", content=MM.encode_bmp(e),
                 meta=None),
             Row(media_id=9, kind="video", content=b"vv", meta=None)]
    spark.createDataFrame(wave1, MM.MEDIA_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = media_dedup_stream(stream, out, ckpt, alerts,
                               available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run()
    al1 = {(r.media_id, r.dup_of)
           for r in spark.read.parquet(alerts).collect()}
    assert al1 == {(5, 4)}
    store1 = spark.read.parquet(out).collect()
    assert len(store1) == 3                     # a, b, e — one row each
    _delete_commit_marker(ckpt)
    run()                                       # replay: no growth
    assert len(spark.read.parquet(out).collect()) == 3
    assert {(r.media_id, r.dup_of)
            for r in spark.read.parquet(alerts).collect()} == al1

    # wave 2: brightness-shifted re-encode of `a` (dHash-invariant) + new
    shifted = np.clip(a.astype(np.int32) + 20, 0, 255).astype(np.uint8)
    wave2 = [Row(media_id=7, kind="image",
                 content=MM.encode_bmp(shifted), meta=None),
             Row(media_id=8, kind="image", content=MM.encode_bmp(img()),
                 meta=None)]
    spark.createDataFrame(wave2, MM.MEDIA_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    al2 = {(r.media_id, r.dup_of)
           for r in spark.read.parquet(alerts).collect()}
    assert al2 == {(5, 4), (7, 1)}              # re-encode flagged vs id 1
    assert len(spark.read.parquet(out).collect()) == 4  # + id 8 only


def test_quantile_rollup_stream_windowed_keys(spark, tmp_path):
    """Windowed percentiles need no new machinery: derive the event-time
    bucket as a column and make it part of the rollup key — per-(key,
    day) sketches maintain independently, counts exact, medians within
    the rank bound per window."""
    from nasctn_sea_ingest_spark.operators.sketch import \
        sketch_quantile_expr
    from nasctn_sea_ingest_spark.streaming import quantile_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "qs")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    rows = []
    for day, base in (("2026-01-01", 0.0), ("2026-01-02", 1000.0)):
        rows += [("A", day, base + i) for i in range(500)]
    spark.createDataFrame(rows, "etype string, day string, v double") \
        .coalesce(1).write.mode("append").parquet(land)

    stream = spark.readStream.schema(
        spark.read.parquet(land).schema).parquet(land)
    q = quantile_rollup_stream(stream, out, ckpt,
                               keys=["etype", "day"], value_col="v",
                               k=128, available_now=True)
    q.awaitTermination(120)
    q.stop()
    q.awaitTermination(30)

    snap = {(r.etype, r.day): r for r in spark.read.parquet(out).select(
        "etype", "day", "n",
        sketch_quantile_expr("values", "weights", 0.5).alias("med"))
        .collect()}
    assert set(snap) == {("A", "2026-01-01"), ("A", "2026-01-02")}
    eps_n = 500 * 2 * np.log2(500 / 128) / 128 + 2
    assert snap[("A", "2026-01-01")].n == 500
    assert abs(snap[("A", "2026-01-01")].med - 249.5) <= eps_n
    assert snap[("A", "2026-01-02")].n == 500
    assert abs(snap[("A", "2026-01-02")].med - 1249.5) <= eps_n


def test_quantile_rollup_stream_psi_alerts(spark, tmp_path):
    """Streaming drift alerts: against a frozen baseline, the key whose
    incoming distribution matches scores near zero and the shifted key
    crosses the 0.25 PSI bar — rows written per batch partition,
    touched keys only."""
    from nasctn_sea_ingest_spark.operators.sketch import \
        grouped_quantile_sketch
    from nasctn_sea_ingest_spark.streaming import quantile_rollup_stream

    rng = np.random.RandomState(99)
    base_rows = [("stable", float(v)) for v in rng.normal(0, 1, 3000)]
    base_rows += [("moved", float(v)) for v in rng.normal(0, 1, 3000)]
    baseline = grouped_quantile_sketch(
        spark.createDataFrame(base_rows, "etype string, v double"),
        ["etype"], "v", k=128).localCheckpoint(eager=True)

    land = str(tmp_path / "land")
    os.makedirs(land)
    live = [("stable", float(v)) for v in rng.normal(0, 1, 2000)]
    live += [("moved", float(v)) for v in rng.normal(2.0, 1, 2000)]
    spark.createDataFrame(live, "etype string, v double") \
        .coalesce(1).write.mode("append").parquet(land)

    stream = spark.readStream.schema(
        spark.read.parquet(land).schema).parquet(land)
    q = quantile_rollup_stream(
        stream, str(tmp_path / "qs"), str(tmp_path / "ck"),
        keys=["etype"], value_col="v", k=128, available_now=True,
        baseline=baseline, alerts_dir=str(tmp_path / "alerts"))
    q.awaitTermination(120)
    q.stop()
    q.awaitTermination(30)

    al = {r.etype: r.psi for r in
          spark.read.parquet(str(tmp_path / "alerts")).collect()}
    assert set(al) == {"stable", "moved"}
    assert al["stable"] < 0.05, al
    assert al["moved"] > 0.25, al


def test_fuzzy_dedup_stream_alerts_and_replay(spark, tmp_path):
    """Streaming fuzzy-name dedup: an in-batch distance-1 pair and a
    cross-wave distance-1 re-arrival both raise alerts pointing at the
    nearest earlier occurrence; only unmatched names join the posting
    store (size tracks distinct entities); a crash-replayed batch
    changes nothing (batch_id-guarded append-only store)."""
    from pyspark.sql import Row
    from nasctn_sea_ingest_spark.streaming import fuzzy_dedup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)

    wave1 = [Row(id=1, text="Acme Corporation"),
             Row(id=2, text="Globex Industries"),
             # in-batch fuzzy pair: one substitution off id=1
             Row(id=5, text="Acme Corporatian"),
             Row(id=7, text="Initech LLC")]
    spark.createDataFrame(wave1).coalesce(1) \
        .write.mode("append").parquet(land)

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = fuzzy_dedup_stream(stream, out, ckpt, alerts,
                               available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run()
    al1 = {(r.id, r.dup_of, r.dist)
           for r in spark.read.parquet(alerts).collect()}
    assert al1 == {(5, 1, 1)}
    store1 = spark.read.parquet(out)
    assert store1.select("id").distinct().count() == 3   # 1, 2, 7
    # one posting row per (name, DISTINCT variant): deleting either char
    # of a repeated run yields the same string (the "LL" in LLC)
    def n_variants(t):
        return len({t} | {t[:i] + t[i + 1:] for i in range(len(t))})
    n_post1 = store1.count()
    assert n_post1 == sum(n_variants(t) for t in
                          ("Acme Corporation", "Globex Industries",
                           "Initech LLC"))
    _delete_commit_marker(ckpt)
    run()                                       # replay: no growth
    assert spark.read.parquet(out).count() == n_post1
    assert {(r.id, r.dup_of, r.dist)
            for r in spark.read.parquet(alerts).collect()} == al1

    # wave 2: deletion-variant re-arrival of a STORED name + a new name
    wave2 = [Row(id=11, text="Initech LL"),       # delete off id=7
             Row(id=12, text="Umbrella Group")]
    spark.createDataFrame(wave2).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    al2 = {(r.id, r.dup_of, r.dist)
           for r in spark.read.parquet(alerts).collect()}
    assert al2 == al1 | {(11, 7, 1)}
    store2 = spark.read.parquet(out)
    assert store2.select("id").distinct().count() == 4   # + Umbrella
    assert store2.where("id = 11").count() == 0          # dup never stored


def test_decontam_stream_matches_batch_and_replay(spark, tmp_path):
    """Arrival-time decontamination: per-wave alerts equal batch
    bloom_contamination of the same docs against the same eval set
    (exact shared-shingle counts — bloom FPs die in the verify join,
    pinned here with an adversarially tiny n_bits); a crash-replayed
    batch rewrites its own alert partition idempotently; clean waves
    land no alert rows."""
    from pyspark.sql import Row
    from nasctn_sea_ingest_spark.operators.text import bloom_contamination
    from nasctn_sea_ingest_spark.streaming import decontam_stream

    land = str(tmp_path / "land")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)

    eval_df = spark.createDataFrame([
        Row(doc_id=900, text="the quick brown fox jumps over lazy dogs"),
        Row(doc_id=901, text="pack my box with five dozen liquor jugs"),
    ])
    wave1 = [Row(doc_id=1, text="prefix the quick brown fox jumps tail"),
             Row(doc_id=2, text="totally unrelated words in this doc"),
             Row(doc_id=3, text="pack my box with five dozen liquor "
                                "jugs copied verbatim here")]
    spark.createDataFrame(wave1).coalesce(1) \
        .write.mode("append").parquet(land)

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = decontam_stream(stream, eval_df, alerts, ckpt, n=4,
                            n_bits=64, n_hashes=2,  # FPR≈1: verify-only
                            available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    run()

    def batch_expect(rows):
        df = spark.createDataFrame(rows)
        return {(r.doc_id, r.n_shared_shingles) for r in
                bloom_contamination(df, eval_df, n=4).collect()}

    got1 = {(r.doc_id, r.n_shared_shingles)
            for r in spark.read.parquet(alerts).collect()}
    want1 = batch_expect(wave1)
    assert got1 == want1 and {d for d, _ in got1} == {1, 3}

    _delete_commit_marker(ckpt)
    run()                                  # replay: idempotent overwrite
    assert {(r.doc_id, r.n_shared_shingles)
            for r in spark.read.parquet(alerts).collect()} == want1

    wave2 = [Row(doc_id=11, text="five dozen liquor jugs arrive in "
                                 "pack my box again"),
             Row(doc_id=12, text="clean text nothing shared at all")]
    spark.createDataFrame(wave2).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    got2 = {(r.doc_id, r.n_shared_shingles)
            for r in spark.read.parquet(alerts).collect()}
    assert got2 == want1 | batch_expect(wave2)
    assert 12 not in {d for d, _ in got2}


def test_kmv_rollup_stream_matches_batch(spark, tmp_path):
    """Maintained KMV snapshot == from-scratch sketch of everything
    streamed, ELEMENT-identical per key (union merge is exact sketch
    algebra); crash replay changes nothing; estimates stay queryable
    at every trigger."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators.sketch import (
        kmv_estimate_expr, kmv_sketch)
    from nasctn_sea_ingest_spark.streaming import kmv_rollup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    k = 64

    def wave(lo, hi):
        spark.range(lo, hi).select(
            (F.col("id") % 2).cast("string").alias("g"),
            (F.col("id") % 900).alias("v")) \
            .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = kmv_rollup_stream(stream, out, ckpt, ["g"], "v", k=k,
                              available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    wave(0, 2000)
    run()
    wave(2000, 5000)
    run()
    snap = {r.g: r.kmv for r in spark.read.parquet(out).collect()}
    direct = {r.g: r.kmv for r in kmv_sketch(
        spark.read.parquet(land), ["g"], "v", k).collect()}
    assert snap == direct                       # element-identical
    est = {r.g: r.e for r in spark.read.parquet(out).select(
        "g", kmv_estimate_expr("kmv", k).alias("e")).collect()}
    # 900 distinct v values split by parity of id... both keys see all
    # residues over 5000 ids; sanity: estimates in a plausible band
    for g, e in est.items():
        assert 300 < e < 700, (g, e)            # true 450 per key
    _delete_commit_marker(ckpt)
    run()                                       # replay: unchanged
    snap2 = {r.g: r.kmv for r in spark.read.parquet(out).collect()}
    assert snap2 == snap


def test_funnel_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming per-user funnel anchors == batch funnel_anchors over
    the same (in-order) rows, across two waves whose transitions span
    the wave boundary; furthest_step counts anchored steps; the within
    bound is enforced."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row
    from nasctn_sea_ingest_spark.operators.funnel import funnel_anchors
    from nasctn_sea_ingest_spark.streaming import funnel_monitor_stream

    land = str(tmp_path / "land")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    steps = [("view", "e = 'v'"), ("click", "e = 'c'"),
             ("buy", "e = 'p'")]
    W = 100

    wave1 = [Row(user_id=1, ts_us=10, e="v"),
             Row(user_id=1, ts_us=20, e="c"),
             Row(user_id=2, ts_us=15, e="v"),
             Row(user_id=3, ts_us=5, e="c"),     # click before any view
             Row(user_id=4, ts_us=1, e="v")]
    wave2 = [Row(user_id=1, ts_us=60, e="p"),    # completes across waves
             Row(user_id=2, ts_us=300, e="c"),   # outside within bound
             Row(user_id=3, ts_us=30, e="v"),
             Row(user_id=3, ts_us=40, e="c"),
             Row(user_id=4, ts_us=50, e="c"),
             Row(user_id=4, ts_us=90, e="p")]

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = (funnel_monitor_stream(stream, steps, within_us=W)
             .writeStream.format("parquet")
             .option("path", outp)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    spark.createDataFrame(wave1).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    spark.createDataFrame(wave2).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    # last emitted row per user = current anchors
    import pandas as pd  # noqa: F401
    rows = spark.read.parquet(outp).collect()
    latest = {}
    for r in rows:
        key = r.user_id
        cur = (r.t_view or 0, r.t_click or 0, r.t_buy or 0)
        if key not in latest or cur >= latest[key][:3]:
            latest[key] = (*cur, r.furthest_step)
    batch = {r.user_id: ((r.t_view or 0), (r.t_click or 0),
                         (r.t_buy or 0))
             for r in funnel_anchors(
                 spark.read.parquet(land), steps,
                 within_us=W).collect()}
    for uid, want in batch.items():
        assert latest[uid][:3] == want, uid
    # semantics spot checks
    assert latest[1] == (10, 20, 60, 3)          # completed across waves
    assert latest[2][1] == 0                     # click too late (within)
    assert latest[3] == (30, 40, 0, 2)           # pre-view click ignored
    assert latest[4] == (1, 50, 90, 3)


def test_colocation_monitor_stream_alerts_and_replay(spark, tmp_path):
    """Streaming spatial co-location: an in-batch near pair and a
    cross-wave arrival inside the radius of a STORED point both alert
    (cell-boundary-straddling included — the 3x3 probe); far points
    stay silent; every point joins the store (proximity is not
    identity); crash replay changes nothing."""
    from pyspark.sql import Row
    from nasctn_sea_ingest_spark.streaming import \
        colocation_monitor_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    R = 5.0

    wave1 = [Row(id=1, x=10.0, y=10.0),
             Row(id=2, x=12.0, y=10.0),     # in-batch pair with 1
             Row(id=3, x=80.0, y=80.0)]
    wave2 = [Row(id=11, x=11.0, y=11.0),    # near stored 1 AND 2
             # straddles the cell boundary from stored 3 (cells of 80.0
             # vs 84.0 differ) — only the 3x3 neighborhood probe finds it
             Row(id=12, x=84.0, y=80.0),
             Row(id=13, x=400.0, y=400.0)]  # isolated

    def run():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = colocation_monitor_stream(stream, out, ckpt, alerts, R,
                                      available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    spark.createDataFrame(wave1).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    al1 = {(r.id1, r.id2) for r in spark.read.parquet(alerts).collect()}
    assert al1 == {(1, 2)}
    assert spark.read.parquet(out).count() == 3
    _delete_commit_marker(ckpt)
    run()                                      # replay: no growth
    assert spark.read.parquet(out).count() == 3
    assert {(r.id1, r.id2)
            for r in spark.read.parquet(alerts).collect()} == al1

    spark.createDataFrame(wave2).coalesce(1) \
        .write.mode("append").parquet(land)
    run()
    al2 = {(r.id1, r.id2) for r in spark.read.parquet(alerts).collect()}
    assert al2 == {(1, 2), (11, 1), (11, 2), (12, 3)}
    assert spark.read.parquet(out).count() == 6   # all points stored


def test_fd_profile_stream_matches_batch_and_replay(spark, tmp_path):
    """Streaming FD-profile maintenance: counts merge exactly, so after
    any number of waves the stored count table must be ROW-identical to
    fd_counts over everything that landed, and the derived g3 report
    must equal batch fd_profile — including NULL lhs/rhs values (the
    merge is union+re-aggregate, never a NULL-dropping equi-join).
    Crash replays are stamp-guarded (count sums double without it)."""
    from nasctn_sea_ingest_spark.functions import (fd_counts,
                                                   fd_errors_from_counts,
                                                   fd_profile)
    from nasctn_sea_ingest_spark.streaming import fd_profile_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "fd")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "k int, status string, prio string"
    cands = [("k", "status"), ("prio", "status")]
    wave1 = [(i % 7, f"s{i % 3}", None if i % 5 == 0 else f"p{i % 2}")
             for i in range(200)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = fd_profile_stream(stream, out, ckpt, cands,
                              available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def stored():
        return {(r.lhs, r.rhs, r.lv, r.rv): r.c for r in
                spark.read.parquet(out).drop("last_batch").collect()}

    run()
    c1 = stored()
    _delete_commit_marker(ckpt)
    run()  # replay batch 0 -> stamp guard must skip it
    assert stored() == c1

    wave2 = [(i % 4, f"s{(i + 1) % 4}", f"p{i % 3}")
             for i in range(150)]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    everything = spark.createDataFrame(wave1 + wave2, schema)
    want = {(r.lhs, r.rhs, r.lv, r.rv): r.c
            for r in fd_counts(everything, cands).collect()}
    assert stored() == want
    # the derived report == batch fd_profile of all landed rows
    got = {(r.lhs, r.rhs): (r.n_rows, r.n_groups, r.violations, r.error)
           for r in fd_errors_from_counts(
               spark.read.parquet(out).drop("last_batch")).collect()}
    wantr = {(r.lhs, r.rhs): (r.n_rows, r.n_groups, r.violations,
                              r.error)
             for r in fd_profile(everything, cands).collect()}
    assert got == wantr


def test_components_stream_matches_batch_and_replay(spark, tmp_path):
    """Streaming cluster maintenance: after every wave the stored
    (node, cluster) partition equals star_components of ALL pairs ever
    streamed — including a wave that BRIDGES two existing clusters
    (the min id wins) and a chain-shaped wave.  Replay is stamp-
    skipped (the merge is idempotent anyway; the stamp makes it
    cheap)."""
    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import components_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"
    wave1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        q = components_stream(stream, out, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def stored():
        return {r.node: r.cluster for r in
                spark.read.parquet(out).drop("last_batch").collect()}

    def want(all_pairs):
        df = spark.createDataFrame(all_pairs, schema)
        return {r.node: r.cluster
                for r in star_components(df).collect()}

    run()
    assert stored() == want(wave1)
    c1 = stored()
    _delete_commit_marker(ckpt)
    run()                                  # replay: stamp-skipped
    assert stored() == c1
    # wave 2 bridges {1,2,3} and {10,11} (min 1 wins) and appends a
    # 30..45 chain
    wave2 = [(3, 10)] + [(i, i + 1) for i in range(30, 45)]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    got = stored()
    assert got == want(wave1 + wave2)
    assert got[11] == 1 and got[44] == 30


def test_neardup_stream_feeds_components_stream_end_to_end(spark,
                                                           tmp_path):
    """The streaming dedup story wired END TO END: the MinHash-LSH
    pair monitor (neardup_stream, stream-static join against the
    corpus band index) feeds components_stream, so the maintained
    (node, cluster) snapshot answers "which docs are one duplicate
    group" at any trigger without re-clustering history.  Three
    triggers; the third arrival's text overlaps BOTH corpus texts and
    BRIDGES the two existing clusters (min id wins).  After every
    trigger the snapshot equals star_components over the batch-
    computed pair set of everything ever landed."""
    from nasctn_sea_ingest_spark.operators.dedup import (
        band_buckets, minhash_band_index, minhash_signature_expr)
    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (components_stream,
                                                   neardup_stream)

    ta = " ".join(f"alpha{i}" for i in range(20))
    tb = " ".join(f"bravo{i}" for i in range(20))
    tc = " ".join(f"charlie{i}" for i in range(20))
    corpus = spark.createDataFrame([(1, ta), (2, tb), (3, tc)],
                                   "doc_id long, text string")
    # 16 bands x 2 rows: ~0.47 Jaccard (the concatenated arrival vs
    # each source) collides with near-certainty, ~0 Jaccard stays out
    idx = minhash_band_index(corpus, n=3, n_hashes=32, n_bands=16) \
        .localCheckpoint(eager=True)

    land = str(tmp_path / "docs")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(land).schema).parquet(land)
        pairs = (neardup_stream(stream, idx, n=3, n_hashes=32,
                                n_bands=16)
                 .select(F.col("doc_id").alias("d1"),
                         F.col("matched_id").alias("d2")))
        q = components_stream(pairs, out, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def stored():
        return {r.node: r.cluster for r in
                spark.read.parquet(out).drop("last_batch").collect()}

    def want():
        landed = spark.read.parquet(land)
        sig = minhash_signature_expr("text", n=3, n_hashes=32)
        banded = band_buckets(landed.withColumn("sig", sig), 16,
                              id_col="doc_id", sig_col="sig")
        p = (banded.join(idx.select(F.col("id").alias("matched_id"),
                                    "band", "bucket"),
                         ["band", "bucket"])
             .where(F.col("id") != F.col("matched_id"))
             .select(F.col("id").alias("d1"),
                     F.col("matched_id").alias("d2")))
        return {r.node: r.cluster
                for r in star_components(p).collect()}

    waves = [[(101, ta)],              # dup of corpus 1 -> {1, 101}
             [(102, tb)],              # dup of corpus 2 -> {2, 102}
             [(103, ta + " " + tb)]]   # overlaps both -> bridges
    for w in waves:
        spark.createDataFrame(w, schema).coalesce(1) \
            .write.mode("append").parquet(land)
        run()
        assert stored() == want()
    got = stored()
    # the bridge really happened: both families collapse to cluster 1;
    # corpus doc 3 never collided, so it never enters the pair stream
    assert got[2] == got[102] == got[103] == got[1] == got[101] == 1
    assert 3 not in got


def test_colocation_feeds_components_stream_spatial_clusters(spark,
                                                             tmp_path):
    """The SPATIAL twin of the round-10 dedup e2e (round-10 verdict
    stretch #8): colocation_monitor_stream's radius-pair alerts feed
    components_stream, so the maintained (node, cluster) snapshot
    answers "which points form one spatial cluster" at any trigger —
    single-linkage radius clustering maintained incrementally, no
    re-clustering of history.  Three waves; the third point lands
    BETWEEN the two existing clusters and bridges them (min id wins).
    After every trigger the snapshot equals star_components over the
    batch grid join of everything ever landed."""
    from pyspark.sql import Row

    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.operators.spatial import \
        grid_distance_join
    from nasctn_sea_ingest_spark.streaming import (
        colocation_monitor_stream, components_stream)

    land = str(tmp_path / "pts")
    store = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ck1 = str(tmp_path / "ck_mon")
    cc = str(tmp_path / "cc")
    ck2 = str(tmp_path / "ck_cc")
    os.makedirs(land)
    R = 1.5

    def run_monitor():
        stream = (spark.readStream
                  .schema(spark.read.parquet(land).schema)
                  .parquet(land))
        q = colocation_monitor_stream(stream, store, ck1, alerts, R,
                                      available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def run_components():
        pairs = (spark.readStream
                 .schema("id1 long, id2 long, dist double")
                 .parquet(alerts + "/batch=*")
                 .select(F.col("id1").alias("d1"),
                         F.col("id2").alias("d2")))
        q = components_stream(pairs, cc, ck2, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def stored():
        return {r.node: r.cluster for r in
                spark.read.parquet(cc).drop("last_batch").collect()}

    def want():
        pts = spark.read.parquet(land)
        p = grid_distance_join(pts, R)
        return {r.node: r.cluster
                for r in star_components(p, "id1", "id2").collect()}

    waves = [
        # cluster A
        [Row(id=1, x=0.0, y=0.0), Row(id=2, x=1.2, y=0.0)],
        # cluster B, beyond R from A
        [Row(id=10, x=3.6, y=0.0), Row(id=11, x=4.8, y=0.0)],
        # the bridge: 1.2 from BOTH 2 and 10 -> A and B collapse
        [Row(id=20, x=2.4, y=0.0)],
    ]
    for w in waves:
        spark.createDataFrame(w).coalesce(1) \
            .write.mode("append").parquet(land)
        run_monitor()
        run_components()
        assert stored() == want()
    got = stored()
    # the bridge really merged the families under the global min id
    assert got[1] == got[2] == got[10] == got[11] == got[20] == 1


def test_semdedup_stream_feeds_components_stream(spark, tmp_path):
    """The SEMANTIC tier of the streaming dedup story (round-11 verdict
    stretch #8): semdedup_stream's exact-cosine alerts feed
    components_stream, so the maintained (node, cluster) snapshot
    answers "which vectors are one semantic group" at any trigger.
    The projection model is deliberately NOT this data's PCA — raw
    coordinate axes (k=3 of d=6) — pinning the claim that ANY fixed
    orthonormal model keeps the candidate superset lossless (a stale
    model only densifies candidates, never loses a pair: b2's 0.287
    energy in axis 3 is simply dropped by the projection, and the pair
    still alerts).  Three waves: in-batch pairs (wave 1/2), a
    cross-batch vs-store pair (id 3 joining cluster A), a zero vector
    (excluded everywhere), and a final arrival whose cosine reaches
    into BOTH clusters and bridges them.  After every trigger the
    snapshot equals star_components over the brute-force cos >= t
    pair set of everything ever landed."""
    import numpy as _np

    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (components_stream,
                                                   semdedup_stream)

    t = 0.7
    d = 6

    def unit(v):
        v = _np.asarray(v, dtype=float)
        return (v / _np.linalg.norm(v)).tolist()

    a1 = unit([1, 0, 0, 0, 0, 0])
    a2 = unit([1, 0.3, 0, 0, 0, 0])
    b1 = unit([0, 0, 1, 0, 0, 0])
    b2 = unit([0, 0, 1, 0.3, 0, 0])
    bridge = unit(_np.add(a2, b2))        # cos 0.707 to a2 AND b2
    a3 = unit([1, 0.25, 0, 0, 0, 0])      # wave-2 arrival, pairs with
    #                                       wave-1's a1/a2 via the store
    waves = [
        [(1, a1), (2, a2)],
        [(3, a3), (10, b1), (11, b2), (99, [0.0] * d)],
        [(20, bridge)],
    ]
    mean = _np.zeros(d)
    comps = _np.eye(d)[:3]                # fixed, non-PCA, orthonormal

    land = str(tmp_path / "emb")
    store = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ck1 = str(tmp_path / "ck_mon")
    cc = str(tmp_path / "cc")
    ck2 = str(tmp_path / "ck_cc")
    os.makedirs(land)

    def run_monitor():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(land))
        q = semdedup_stream(stream, store, ck1, alerts, mean, comps,
                            threshold=t, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def run_components():
        pairs = (spark.readStream
                 .schema("id1 long, id2 long, cos_sim double")
                 .parquet(alerts + "/batch=*")
                 .select(F.col("id1").alias("d1"),
                         F.col("id2").alias("d2")))
        q = components_stream(pairs, cc, ck2, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    landed: list = []

    def want():
        ids = [i for i, v in landed if _np.linalg.norm(v) > 0]
        M = _np.array([v for i, v in landed
                       if _np.linalg.norm(v) > 0], dtype=float)
        U = M / _np.linalg.norm(M, axis=1, keepdims=True)
        C = U @ U.T
        pairs = [(ids[i], ids[j]) for i in range(len(ids))
                 for j in range(i + 1, len(ids)) if C[i, j] >= t]
        if not pairs:
            return {}
        p = spark.createDataFrame(pairs, "d1 long, d2 long")
        return {r.node: r.cluster
                for r in star_components(p, "d1", "d2").collect()}

    for w in waves:
        spark.createDataFrame(
            [(i, v) for i, v in w],
            "vec_id long, embedding array<double>").coalesce(1) \
            .write.mode("append").parquet(land)
        landed.extend(w)
        run_monitor()
        run_components()
        got = {r.node: r.cluster for r in
               spark.read.parquet(cc).drop("last_batch").collect()}
        assert got == want()
        # the zero vector never alerts
        al = spark.read.parquet(alerts + "/batch=*")
        assert al.where("id1 = 99 OR id2 = 99").count() == 0
    # wave 2 produced a CROSS-BATCH alert through the store probe
    assert got[3] == got[1]
    # the bridge really merged both semantic families under the min id
    assert got[1] == got[2] == got[10] == got[11] == got[20] == 1


def test_semdedup_store_reproject_migration(spark, tmp_path):
    """Model-refresh lifecycle for the streaming semantic tier: run two
    waves under a deliberately stale model A (raw axes k=2), STOP,
    `semdedup_store_reproject` to model B (raw axes k=3, a different
    grid geometry entirely), then continue the monitor FROM THE SAME
    CHECKPOINT with the new store dir + model B.  Wave 3's arrival must
    alert against wave-1 vectors THROUGH THE REPROJECTED STORE — the
    migration preserved ids, full-width unit vectors, and batch_id
    stamps, and the resumed lineage's batch numbering (2) doesn't
    collide with stamped history (0, 1).  Also pins: the migrated
    count, the new store's k=3 cell schema, the refuse-existing-target
    guard, and the rebase_batch_ids=-1 escape hatch for fresh
    lineages."""
    import numpy as _np

    from nasctn_sea_ingest_spark.streaming import (
        semdedup_store_reproject, semdedup_stream)

    t = 0.7
    d = 6

    def unit(v):
        v = _np.asarray(v, dtype=float)
        return (v / _np.linalg.norm(v)).tolist()

    a1 = unit([1, 0, 0, 0, 0, 0])
    a2 = unit([1, 0.3, 0, 0, 0, 0])
    b1 = unit([0, 0, 1, 0, 0, 0])
    b2 = unit([0, 0, 1, 0.3, 0, 0])
    a3 = unit([1, 0.25, 0, 0, 0, 0])
    waves = [[(1, a1), (2, a2)], [(10, b1), (11, b2)], [(3, a3)]]

    model_a = (_np.zeros(d), _np.eye(d)[:2])
    model_b = (_np.zeros(d), _np.eye(d)[:3])

    land = str(tmp_path / "emb")
    store_a = str(tmp_path / "store_a")
    store_b = str(tmp_path / "store_b")
    alerts = str(tmp_path / "alerts")
    ck = str(tmp_path / "ck")
    os.makedirs(land)

    def run_monitor(store, model):
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(land))
        q = semdedup_stream(stream, store, ck, alerts, model[0],
                            model[1], threshold=t, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    def land_wave(w):
        spark.createDataFrame(
            w, "vec_id long, embedding array<double>").coalesce(1) \
            .write.mode("append").parquet(land)

    for w in waves[:2]:
        land_wave(w)
        run_monitor(store_a, model_a)

    n = semdedup_store_reproject(spark, store_a, store_b, *model_b,
                                 threshold=t)
    assert n == 4
    new_store = spark.read.parquet(store_b)
    assert {"id", "__u", "q0", "q1", "q2", "c0", "c1", "c2", "kb",
            "batch_id"} == set(new_store.columns)
    # batch_id stamps preserved verbatim (same-checkpoint contract)
    assert ({r.batch_id for r in
             new_store.select("batch_id").distinct().collect()}
            == {0, 1})
    # mixed-model stores are structurally impossible
    with pytest.raises(ValueError, match="refuses existing target"):
        semdedup_store_reproject(spark, store_a, store_b, *model_b,
                                 threshold=t)
    # fresh-lineage escape hatch stamps history as -1
    store_c = str(tmp_path / "store_c")
    semdedup_store_reproject(spark, store_a, store_c, *model_b,
                             threshold=t, rebase_batch_ids=True)
    assert ({r.batch_id for r in spark.read.parquet(store_c)
             .select("batch_id").distinct().collect()} == {-1})

    # resume the SAME checkpoint against the reprojected store + model B
    land_wave(waves[2])
    run_monitor(store_b, model_b)
    got = {(min(r.id1, r.id2), max(r.id1, r.id2))
           for r in spark.read.parquet(alerts + "/batch=*")
           .select("id1", "id2").collect()}
    ids = [i for w in waves for i, _ in w]
    M = _np.array([v for w in waves for _, v in w], dtype=float)
    C = M @ M.T
    want = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if C[i, j] >= t}
    assert got == want
    # and the load-bearing part: wave 3 paired CROSS-BATCH through the
    # REPROJECTED store (batch=2 alerts exist and name wave-1 ids)
    cross = {p for p in got if 3 in p}
    assert cross == {(1, 3), (2, 3)}


def test_semdedup_model_dim_mismatch_raises(spark, tmp_path):
    """A projection model whose component width mismatches the
    embedding dim would NULL every grid cell key — cells that never
    equi-join, i.e. a monitor that silently never alerts again and a
    migrated store that matches nothing (the semdedup_exact r11
    ADVICE class).  Both faces must RAISE instead."""
    import numpy as _np

    from nasctn_sea_ingest_spark.streaming import (
        semdedup_store_reproject, semdedup_stream)

    land = str(tmp_path / "emb")
    os.makedirs(land)
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>").coalesce(1) \
        .write.mode("append").parquet(land)

    # monitor face: model fitted for d=6, data is d=4
    bad = (_np.zeros(6), _np.eye(6)[:2])
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .parquet(land))
    q = semdedup_stream(stream, str(tmp_path / "store"),
                        str(tmp_path / "ck"), str(tmp_path / "alerts"),
                        bad[0], bad[1], threshold=0.9,
                        available_now=True)
    with pytest.raises(Exception, match="component width"):
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    # migration face: build a good d=4 store, reproject with d=6 model
    good = (_np.zeros(4), _np.eye(4)[:2])
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .parquet(land))
    q = semdedup_stream(stream, str(tmp_path / "store2"),
                        str(tmp_path / "ck2"),
                        str(tmp_path / "alerts2"),
                        good[0], good[1], threshold=0.9,
                        available_now=True)
    q.awaitTermination(120)
    q.stop()
    q.awaitTermination(30)
    with pytest.raises(ValueError, match="component width"):
        semdedup_store_reproject(spark, str(tmp_path / "store2"),
                                 str(tmp_path / "store3"),
                                 bad[0], bad[1], threshold=0.9)


def test_store_geometry_manifest_corruption_and_null_element(
        spark, tmp_path):
    """r12 ADVICE pair: (a) a truncated/corrupt geometry manifest (a
    crash mid-stamp) must raise a CLEAR corrupt-manifest error naming
    the recovery, not an opaque JSONDecodeError — and the stamp itself
    is now written via temp-file + os.replace so a crash can no longer
    produce one; (b) a NULL element inside ONE stored vector must be
    diagnosed as exactly that (naming the id), not blamed on model
    component width."""
    import numpy as _np

    from nasctn_sea_ingest_spark.streaming import (
        _store_geometry_guard, semdedup_store_reproject)

    # (a) corrupt manifest -> clear error
    store = str(tmp_path / "cstore")
    os.makedirs(store)
    with open(os.path.join(store, "_store_geometry.json"), "w") as fh:
        fh.write('{"kind": "semdedup", "k"')   # truncated mid-write
    with pytest.raises(ValueError, match="corrupt store-geometry"):
        _store_geometry_guard(store, {"kind": "semdedup"})
    # recovery path: delete -> next attach re-stamps atomically
    os.unlink(os.path.join(store, "_store_geometry.json"))
    _store_geometry_guard(store, {"kind": "semdedup", "k": 2})
    _store_geometry_guard(store, {"kind": "semdedup", "k": 2})
    with pytest.raises(ValueError, match="geometry mismatch"):
        _store_geometry_guard(store, {"kind": "semdedup", "k": 3})

    # (b) NULL element inside one stored vector: reproject must name
    # the offending id and the defect, not claim a width mismatch
    old = str(tmp_path / "nstore")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 0),
         (2, [0.0, None, 0.0, 1.0], 0)],
        "id long, __u array<double>, batch_id long") \
        .coalesce(1).write.parquet(old)
    model = (_np.zeros(4), _np.eye(4)[:2])
    with pytest.raises(ValueError, match="NULL element"):
        semdedup_store_reproject(spark, old, str(tmp_path / "nstore2"),
                                 model[0], model[1], threshold=0.9)
    # width mismatch still diagnosed as width, with both dims named
    # (a clean store: the one-row probe must not race the null-element
    # row into the width diagnosis)
    clean = str(tmp_path / "wstore")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 0)],
        "id long, __u array<double>, batch_id long") \
        .coalesce(1).write.parquet(clean)
    with pytest.raises(ValueError, match="component width \\(2\\).*"
                       "dimensionality \\(4\\)"):
        semdedup_store_reproject(
            spark, clean, str(tmp_path / "nstore3"),
            _np.zeros(2), _np.eye(2)[:2], threshold=0.9)


def test_semdedup_store_geometry_guard(spark, tmp_path):
    """Stored cell/bucket keys bake in (k, cell, n_buckets, model
    width): re-attaching the monitor with a different threshold or
    bucket count against the SAME store would make bucket pruning and
    the cell equi-join silently MISS pairs forever.  The geometry
    manifest stamped by the first writer must make every such attach
    RAISE — and a same-geometry resume must keep working."""
    import numpy as _np

    from nasctn_sea_ingest_spark.streaming import semdedup_stream

    d = 4
    model = (_np.zeros(d), _np.eye(d)[:2])
    land = str(tmp_path / "emb")
    store = str(tmp_path / "store")
    os.makedirs(land)

    def run(ck, threshold=0.9, n_buckets=16):
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(land))
        q = semdedup_stream(stream, store, str(tmp_path / ck),
                            str(tmp_path / "alerts"), model[0],
                            model[1], threshold=threshold,
                            n_buckets=n_buckets, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                          "vec_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(land)
    run("ck1")                       # stamps the geometry manifest
    assert os.path.exists(os.path.join(store, "_store_geometry.json"))

    spark.createDataFrame([(2, [0.0, 1.0, 0.0, 0.0])],
                          "vec_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(land)
    with pytest.raises(Exception, match="geometry mismatch"):
        run("ck2", threshold=0.8)    # different cell size
    with pytest.raises(Exception, match="geometry mismatch"):
        run("ck3", n_buckets=8)      # different bucket partitioning
    run("ck1")                       # same geometry resumes fine
    got = spark.read.parquet(store)
    assert got.select("id").distinct().count() == 2


def test_colocation_and_fuzzy_store_geometry_guard(spark, tmp_path):
    """The geometry manifest generalizes to every store-backed
    candidate monitor: colocation bakes (radius, n_buckets) into
    stored cx/cy/kb, fuzzy bakes (max_distance, n_buckets) into its
    posting store — re-attaching with either changed must RAISE
    instead of silently under-alerting, and a same-geometry resume
    must keep working."""
    from nasctn_sea_ingest_spark.streaming import (
        colocation_monitor_stream, fuzzy_dedup_stream)

    land_p = str(tmp_path / "pts")
    land_n = str(tmp_path / "names")
    os.makedirs(land_p)
    os.makedirs(land_n)

    def run_colo(ck, radius=10.0, n_buckets=16):
        stream = (spark.readStream
                  .schema("id long, x double, y double")
                  .parquet(land_p))
        q = colocation_monitor_stream(
            stream, str(tmp_path / "pstore"), str(tmp_path / ck),
            str(tmp_path / "palerts"), radius, n_buckets=n_buckets,
            available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    def run_fuzzy(ck, max_distance=1, n_buckets=16):
        stream = (spark.readStream.schema("id long, text string")
                  .parquet(land_n))
        q = fuzzy_dedup_stream(
            stream, str(tmp_path / "fstore"), str(tmp_path / ck),
            str(tmp_path / "falerts"), max_distance=max_distance,
            n_buckets=n_buckets, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    spark.createDataFrame([(1, 0.0, 0.0)],
                          "id long, x double, y double") \
        .coalesce(1).write.mode("append").parquet(land_p)
    run_colo("ckp1")
    spark.createDataFrame([(2, 3.0, 0.0)],
                          "id long, x double, y double") \
        .coalesce(1).write.mode("append").parquet(land_p)
    with pytest.raises(Exception, match="geometry mismatch"):
        run_colo("ckp2", radius=5.0)
    with pytest.raises(Exception, match="geometry mismatch"):
        run_colo("ckp3", n_buckets=8)
    run_colo("ckp1")     # same geometry resumes; pair (1,2) alerts
    al = spark.read.parquet(str(tmp_path / "palerts") + "/batch=*")
    assert al.count() == 1

    spark.createDataFrame([(1, "alpha")], "id long, text string") \
        .coalesce(1).write.mode("append").parquet(land_n)
    run_fuzzy("ckf1")
    spark.createDataFrame([(2, "alphb")], "id long, text string") \
        .coalesce(1).write.mode("append").parquet(land_n)
    with pytest.raises(Exception, match="geometry mismatch"):
        run_fuzzy("ckf2", max_distance=2)
    run_fuzzy("ckf1")    # same geometry: 'alphb' matches stored 'alpha'
    al = spark.read.parquet(str(tmp_path / "falerts") + "/batch=*")
    assert al.where("id = 2").count() == 1


def test_neardup_index_parameter_stamp(spark, tmp_path):
    """minhash_band_index stamps its build parameters as column
    metadata (parquet round-trip included): a neardup_stream probe
    configured with different (n, n_hashes, n_bands) would hash into
    buckets the index never wrote and silently match nothing — it must
    RAISE at plan-build time; matching parameters (and legacy
    unstamped indexes) construct normally."""
    from nasctn_sea_ingest_spark.operators.dedup import \
        minhash_band_index
    from nasctn_sea_ingest_spark.streaming import neardup_stream

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    path = str(tmp_path / "idx")
    minhash_band_index(docs).write.parquet(path)
    idx = spark.read.parquet(path)
    # the stamp survived the parquet round-trip
    assert idx.schema["bucket"].metadata["minhash_hashes"] == 32

    os.makedirs(str(tmp_path / "land"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(tmp_path / "land")))
    with pytest.raises(ValueError, match="built with"):
        neardup_stream(stream, idx, n_hashes=16)
    with pytest.raises(ValueError, match="built with"):
        neardup_stream(stream, idx, n_bands=4)
    neardup_stream(stream, idx)                      # match: fine
    legacy = idx.withColumn(
        "bucket", F.col("bucket").alias("bucket", metadata={}))
    neardup_stream(stream, legacy, n_hashes=16)      # unstamped: fine


def test_components_stream_bucketed_parity_bridging_replay(
        spark, tmp_path):
    """The 100 TB components face (r12 verdict #3): after every wave
    the bucketed snapshot equals star_components of ALL pairs ever
    streamed — including a wave that BRIDGES two stored clusters whose
    members live in buckets the batch itself never touches (the
    directory resolves them) and a chain wave.  Replay is stamp-
    skipped; a different n_buckets re-attach raises (geometry)."""
    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (
        components_stream_bucketed)

    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run(n_buckets=8, ck=ckpt):
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream_bucketed(stream, out, ck,
                                       n_buckets=n_buckets,
                                       available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    def stored():
        return {r.node: r.cluster for r in
                spark.read.parquet(out)
                .select("node", "cluster").collect()}

    def want(all_pairs):
        df = spark.createDataFrame(all_pairs, schema)
        return {r.node: r.cluster
                for r in star_components(df).collect()}

    wave1 = [(1, 2), (2, 3), (10, 11), (20, 21)] + \
            [(100 + i, 200 + i) for i in range(30)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    assert stored() == want(wave1)
    c1 = stored()
    _delete_commit_marker(ckpt)
    run()                                 # replay: stamp-skipped
    assert stored() == c1

    # wave 2 bridges {1,2,3} and {10,11} via a brand-new node 500 and
    # appends a chain — members 2,3,11 live in buckets wave 2 never
    # wrote to directly; the directory must pull them in
    wave2 = [(3, 500), (500, 10)] + [(i, i + 1) for i in range(30, 45)]
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    got = stored()
    assert got == want(wave1 + wave2)
    assert got[11] == 1 and got[500] == 1 and got[44] == 30

    # geometry guard: n_buckets is baked into the layout
    wave3 = [(900, 901)]
    spark.createDataFrame(wave3, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    with pytest.raises(Exception, match="geometry mismatch"):
        run(n_buckets=4, ck=str(tmp_path / "ck2"))
    run()
    assert stored() == want(wave1 + wave2 + wave3)


def test_components_stream_bucketed_deep_absorption_history(
        spark, tmp_path):
    """r14 ADVICE (high): a component whose min id decreased 18 times
    across the stream's life accumulates an 18-link (old, new) chain
    in the merge log.  Expansion must age the log by batch_id — only
    the current batch's pairs can be unreflected in the snapshot —
    instead of walking the full historical chain, which falsely
    tripped the 16-round fixpoint cap and crash-looped the monitor
    with a misleading 'log inconsistent' error.  Compaction then
    sheds the committed-history pairs entirely."""
    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (
        compact_candidate_store, components_stream_bucketed)

    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    # wave k merges node (1000 - k) into the component — the min
    # decreases every wave, so every wave logs one absorption pair
    # and the pairs chain (old_k -> new_k == old_{k+1}'s new ...)
    edges = [(1000 - k, 1000 - k + 1) for k in range(1, 19)]
    for e in edges:
        spark.createDataFrame([e], schema) \
            .coalesce(1).write.mode("append").parquet(land)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(land))
    q = components_stream_bucketed(stream, out, ckpt, n_buckets=4,
                                   available_now=True)
    try:
        q.awaitTermination(600)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {r.node: r.cluster for r in
           spark.read.parquet(out).select("node", "cluster").collect()}
    want = {r.node: r.cluster for r in star_components(
        spark.createDataFrame(edges, schema)).collect()}
    assert got == want
    ml = spark.read.parquet(out + "/_merges")
    assert "batch_id" in ml.columns
    assert ml.count() == 17     # one pair per wave after the first
    # compaction ages out every pair staler than the newest stamp
    compact_candidate_store(spark, out)
    aged = spark.read.option("mergeSchema", "true") \
        .parquet(out + "/_merges")
    assert aged.count() == 1
    assert aged.first().batch_id == 17
    # the aged log still serves a later trigger
    spark.createDataFrame([(2000, 2001)], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    stream = spark.readStream.schema(schema).parquet(land)
    q = components_stream_bucketed(stream, out, ckpt, n_buckets=4,
                                   available_now=True)
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {r.node: r.cluster for r in
           spark.read.parquet(out).select("node", "cluster").collect()}
    want = {r.node: r.cluster for r in star_components(
        spark.createDataFrame(edges + [(2000, 2001)], schema))
        .collect()}
    assert got == want


def test_components_stream_bucketed_rewrites_only_touched_buckets(
        spark, tmp_path):
    """The design's whole point: a wave confined to one component must
    leave every unrelated bucket's files byte-untouched (per-trigger
    cost tracks touched buckets, not total state)."""
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark.streaming import (
        components_stream_bucketed)

    n_buckets = 8
    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream_bucketed(stream, out, ckpt,
                                       n_buckets=n_buckets,
                                       available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    wave1 = [(i, i + 1000) for i in range(64)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()

    # wave 2: one fresh pair; its two nodes (and their component rep)
    # hash to a known bucket set — every OTHER bucket's file listing
    # must be identical after the trigger
    pair = (5000, 5001)
    kbs = {r[0] for r in spark.createDataFrame(
        [(pair[0],), (pair[1],)], "node long")
        .select(F.pmod(F.hash("node"), n_buckets)).collect()}

    def listing(exclude):
        snap = {}
        for d in os.listdir(out):
            if not d.startswith("kb="):
                continue
            if int(d.split("=")[1]) in exclude:
                continue
            leaf = os.path.join(out, d)
            snap[d] = sorted(
                (f, os.path.getmtime(os.path.join(leaf, f)))
                for f in os.listdir(leaf) if f.endswith(".parquet"))
        return snap

    before = listing(kbs)
    spark.createDataFrame([pair], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    assert listing(kbs) == before
    got = {r.node: r.cluster
           for r in spark.read.parquet(out)
           .where(F.col("node").isin(list(pair))).collect()}
    assert got == {5000: 5000, 5001: 5000}


def test_compact_candidate_store_mid_stream_semdedup(spark, tmp_path):
    """r12 verdict #4: compact a semdedup candidate store MID-STREAM —
    file counts shrink, the geometry manifest survives, the monitor
    resumes from the SAME checkpoint, cross-batch alerts through the
    compacted store still fire, and a crash replay after compaction is
    still stamp-skipped (batch_id stamps preserved verbatim)."""
    import numpy as _np

    from nasctn_sea_ingest_spark.streaming import (
        compact_candidate_store, semdedup_stream)

    d = 4
    model = (_np.zeros(d), _np.eye(d)[:2])
    land = str(tmp_path / "emb")
    store = str(tmp_path / "store")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    t = 0.95

    def run():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(land))
        q = semdedup_stream(stream, store, ckpt, alerts, model[0],
                            model[1], threshold=t, n_buckets=4,
                            available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    def land_wave(rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("append").parquet(land)

    # 3 waves of near-orthogonal vectors (no alerts yet) — each wave
    # appends one file per touched bucket
    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0]]
    for w in range(3):
        land_wave([(w * 10 + j, v) for j, v in enumerate(base)])
        run()

    def n_files():
        return sum(1 for root, _, files in os.walk(store)
                   for f in files if f.endswith(".parquet"))

    before = n_files()
    geom_before = open(os.path.join(
        store, "_store_geometry.json")).read()
    log = compact_candidate_store(spark, store)
    assert n_files() < before
    assert (log.n_files_after <= log.n_files_before).all()
    assert open(os.path.join(
        store, "_store_geometry.json")).read() == geom_before
    # stamps preserved verbatim through the rewrite
    got_batches = {r.batch_id for r in spark.read.parquet(store)
                   .select("batch_id").distinct().collect()}
    assert got_batches == {0, 1, 2}

    # resume the SAME checkpoint: wave 4 duplicates wave 0's first
    # vector — the alert must pair cross-batch THROUGH the compacted
    # store
    land_wave([(99, [1.0, 0.0, 0.0, 0.0])])
    run()
    got = {(min(r.id1, r.id2), max(r.id1, r.id2))
           for r in spark.read.parquet(alerts + "/batch=*")
           .select("id1", "id2").collect()}
    assert (0, 99) in got
    # exact expectation: the three waves repeat ALL of base, so each
    # direction's carriers pair pairwise; 99 repeats direction e0
    want = {(0, 10), (0, 20), (10, 20), (0, 99), (10, 99), (20, 99),
            (1, 11), (1, 21), (11, 21), (2, 12), (2, 22), (12, 22)}
    assert got == want

    # crash replay of the post-compaction batch: stamp-skipped, alerts
    # unchanged
    _delete_commit_marker(ckpt)
    run()
    got2 = {(min(r.id1, r.id2), max(r.id1, r.id2))
            for r in spark.read.parquet(alerts + "/batch=*")
            .select("id1", "id2").collect()}
    assert got2 == want


def test_compact_candidate_store_rebuilds_components_directory(
        spark, tmp_path):
    """Compacting a components store rebuilds the cluster directory
    from the snapshot — dead pairs for absorbed cluster ids are shed,
    and the monitor keeps producing exact components afterwards
    (bridge through a compacted store)."""
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (
        compact_candidate_store, components_stream_bucketed)

    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream_bucketed(stream, out, ckpt, n_buckets=4,
                                       available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    waves = [[(1, 2), (10, 11), (20, 21)],
             [(2, 10)],          # absorbs cluster 10 into 1
             [(30, 31)]]
    hist = []
    for w in waves:
        hist += w
        spark.createDataFrame(w, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        run()

    # pre-compaction: the append-only directory still lists the dead
    # cluster id 10
    dirs = spark.read.parquet(os.path.join(out, "_directory"))
    assert dirs.where(F.col("cluster") == 10).count() > 0

    compact_candidate_store(spark, out)
    dirs = spark.read.parquet(os.path.join(out, "_directory"))
    assert dirs.where(F.col("cluster") == 10).count() == 0
    live = {r.cluster for r in dirs.select("cluster")
            .distinct().collect()}
    assert live == {1, 20, 30}

    # resume: bridge 20↔30 through the compacted store + directory
    spark.createDataFrame([(21, 31)], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    hist += [(21, 31)]
    got = {r.node: r.cluster for r in spark.read.parquet(out)
           .select("node", "cluster").collect()}
    want = {r.node: r.cluster for r in star_components(
        spark.createDataFrame(hist, schema)).collect()}
    assert got == want


def test_skew_profile_stream_matches_batch_survey(spark, tmp_path):
    """Streaming skew maintenance: after every wave, skew_report over
    the stored counts equals skew_survey over ALL rows ever streamed —
    singles AND a composite entry, NULL keys counted as their own
    group, hints identical; replay is stamp-skipped."""
    from nasctn_sea_ingest_spark.operators.quality import (
        skew_report, skew_survey)
    from nasctn_sea_ingest_spark.streaming import skew_profile_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "skew")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "a string, b int"
    keys = ["a", "b", ("a", "b")]

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = skew_profile_stream(stream, out, ckpt, keys,
                                available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    def report():
        snap = spark.read.parquet(out).drop("last_batch")
        return {r.key_col: r.asDict() for r in
                skew_report(snap).collect()}

    waves = [
        [("hot", 1)] * 8 + [("x", 2), (None, 3)],
        [("hot", 1)] * 5 + [("y", 2), ("z", None), (None, 3)],
        [(f"k{i}", i) for i in range(10)],
    ]
    hist = []
    for w in waves:
        hist += w
        spark.createDataFrame(w, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        run()
        want = {r.key_col: r.asDict() for r in
                skew_survey(spark.createDataFrame(hist, schema),
                            keys).collect()}
        got = report()
        assert got == want, (len(hist), got, want)

    # crash replay: stamp-skipped, report unchanged
    before = report()
    _delete_commit_marker(ckpt)
    run()
    assert report() == before


def test_components_stream_bucketed_heals_partial_overwrite(
        spark, tmp_path):
    """r13 ADVICE (medium): the multi-bucket dynamic overwrite is not
    atomic — a crash can commit every batch-node bucket at the new
    batch stamp while a directory-bridged bucket keeps rows of an
    ABSORBED cluster id.  A t0-stamp-only replay skip would cement
    that split forever; the merge log must both defeat the skip
    (full-touched-set stamps) and supply the old—new healing edge.
    Simulated by reverting one bridged-only bucket to its pre-batch
    bytes after the trigger commits, then forcing a replay."""
    import shutil

    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (
        components_stream_bucketed)

    n_buckets = 8
    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream_bucketed(stream, out, ckpt,
                                       n_buckets=n_buckets,
                                       available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    def stored():
        return {r.node: r.cluster for r in
                spark.read.parquet(out)
                .select("node", "cluster").collect()}

    def want(all_pairs):
        df = spark.createDataFrame(all_pairs, schema)
        return {r.node: r.cluster
                for r in star_components(df).collect()}

    def kb_of(nodes):
        return {r[0]: r[1] for r in spark.createDataFrame(
            [(n,) for n in nodes], "node long")
            .select("node", F.pmod(F.hash("node"), n_buckets))
            .collect()}

    # cluster A = {1,2,3}, cluster B = {10..14} (several bridged-only
    # members so at least one lands in a bucket wave 2 never writes
    # through its own nodes), plus unrelated filler
    wave1 = [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13), (10, 14),
             (20, 21)] + [(100 + i, 200 + i) for i in range(10)]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    assert stored() == want(wave1)

    # wave 2 bridges A and B via a brand-new node 500 — B is absorbed
    # (min id 1 < 10), so B's bridged-only members change cluster id
    wave2 = [(3, 500), (500, 10)]
    t0 = set(kb_of([3, 500, 10]).values())
    victims = {n: b for n, b in kb_of([11, 12, 13, 14]).items()
               if b not in t0}
    assert victims, "premise: need a bridged-only bucket outside t0"
    vnode, vkb = sorted(victims.items())[0]

    backup = str(tmp_path / "victim_backup")
    shutil.copytree(os.path.join(out, f"kb={vkb}"), backup)
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    assert stored() == want(wave1 + wave2)          # fully committed

    # simulate the crash: merge log + directory + every bucket except
    # the victim's committed; the victim still holds (vnode, 10) at
    # the wave-1 stamp
    shutil.rmtree(os.path.join(out, f"kb={vkb}"))
    shutil.copytree(backup, os.path.join(out, f"kb={vkb}"))
    assert stored()[vnode] == 10                    # split planted
    _delete_commit_marker(ckpt)
    run()                                           # replay must heal
    got = stored()
    assert got == want(wave1 + wave2)
    assert got[vnode] == 1 and got[500] == 1 and got[11] == 1


def test_compact_candidate_store_crash_recovery(spark, tmp_path):
    """r13 ADVICE: a crash between _swap's two renames leaves the
    bucket's only data in _compact_old_<name>, invisible to readers.
    Entry recovery must restore it (and clear completed-swap garbage
    and stale tmp dirs) before compacting."""
    import shutil

    from nasctn_sea_ingest_spark.streaming import compact_candidate_store

    store = str(tmp_path / "store")
    rows = [(i, i % 3, 0) for i in range(50)]
    df = spark.createDataFrame(rows, "node long, cluster long, x int")
    for _ in range(3):                     # 3 small files per bucket
        (df.repartition(1).write.mode("append")
         .partitionBy("cluster").parquet(store))
    total = spark.read.parquet(store).count()

    # crash mid-swap: leaf renamed away, nothing swapped back
    os.rename(os.path.join(store, "cluster=0"),
              os.path.join(store, "_compact_old_cluster=0"))
    # completed swap whose old-dir cleanup never ran
    shutil.copytree(os.path.join(store, "cluster=1"),
                    os.path.join(store, "_compact_old_cluster=1"))
    # stale tmp from an interrupted rewrite
    shutil.copytree(os.path.join(store, "cluster=2"),
                    os.path.join(store, "_compact_tmp_cluster=2"))

    log = compact_candidate_store(spark, store)
    assert not [d for d in os.listdir(store)
                if d.startswith("_compact_")]
    assert spark.read.parquet(store).count() == total
    after = dict(zip(log["partition"], log["n_files_after"]))
    assert all(v == 1 for v in after.values()), after


def test_compact_candidate_store_refuses_flat_roots(spark, tmp_path):
    """r14 ADVICE (medium): a FLAT store makes the store root the swap
    leaf — the old code's renames moved the store dir through the
    PARENT, and a crash between them left no store at all.  The
    compactor must now (a) refuse to swap a root leaf, leaving its
    files verbatim, and (b) on entry repair the legacy crash state
    (parent _compact_old_<basename> sibling, store dir gone)."""
    from nasctn_sea_ingest_spark.streaming import compact_candidate_store

    store = str(tmp_path / "flat")
    df = spark.createDataFrame([(i, i) for i in range(40)],
                               "d1 long, d2 long")
    for _ in range(5):                     # 5 flat root files
        df.repartition(1).write.mode("append").parquet(store)
    total = spark.read.parquet(store).count()
    files = sorted(f for f in os.listdir(store)
                   if f.endswith(".parquet"))

    log = compact_candidate_store(spark, store)
    refused = dict(zip(log["partition"], log["n_files_after"]))
    assert refused == {"<root> (refused: flat store)": 5}
    assert sorted(f for f in os.listdir(store)
                  if f.endswith(".parquet")) == files   # untouched
    assert not os.path.exists(str(tmp_path / "_compact_old_flat"))

    # legacy crash state: old code renamed the store into the parent's
    # _compact_old_ sibling and died before swapping tmp in
    os.rename(store, str(tmp_path / "_compact_old_flat"))
    (df.limit(3).repartition(1).write.mode("overwrite")
     .parquet(str(tmp_path / "_compact_tmp_flat")))
    compact_candidate_store(spark, store)
    assert spark.read.parquet(store).count() == total
    assert not os.path.exists(str(tmp_path / "_compact_old_flat"))
    assert not os.path.exists(str(tmp_path / "_compact_tmp_flat"))


def test_lpa_edge_log_lifts_legacy_flat_layout(spark, tmp_path):
    """Legacy lpa_communities_stream edge logs wrote parquet flat in
    the store root; re-attaching must lift them into the kb=0 leaf
    (one rename per file, resumable) and keep every logged edge —
    the snapshot still rebuilds entirely from the lifted log."""
    from nasctn_sea_ingest_spark.operators.graph import label_propagation
    from nasctn_sea_ingest_spark.streaming import lpa_communities_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "lpa")
    edges = out + ".edges"
    os.makedirs(land)
    schema = "d1 long, d2 long"
    legacy = [(1, 2), (2, 3), (10, 11)]
    # a legacy FLAT log: batch-stamped rows, files in the store root
    # (stamped -1 so the fresh checkpoint's batch 0 is not mistaken
    # for a replay — a real legacy store keeps its checkpoint and its
    # batch ids stay monotone)
    (spark.createDataFrame([(a, b, -1) for a, b in legacy],
                           "d1 long, d2 long, batch_id long")
     .coalesce(1).write.mode("append").parquet(edges))
    assert any(f.endswith(".parquet") for f in os.listdir(edges))

    wave = [(3, 4), (20, 21)]
    spark.createDataFrame(wave, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    stream = spark.readStream.schema(schema).parquet(land)
    q = lpa_communities_stream(stream, out, str(tmp_path / "ck"),
                               max_iter=8, available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert not any(f.endswith(".parquet") for f in os.listdir(edges))
    got = {r.node: r.community for r in
           spark.read.parquet(out).select("node", "community")
           .collect()}
    want = {r.node: r.community for r in label_propagation(
        spark.createDataFrame(legacy + wave, schema),
        max_iter=8).collect()}
    assert got == want


def test_components_stream_bucketed_auto_compaction(spark, tmp_path):
    """r13 verdict #5: the append-only directory/merge-log litter is
    compacted AUTOMATICALLY once a just-written leaf exceeds
    auto_compact_files — per-leaf file counts stay bounded across many
    triggers, the geometry manifest records the cadence, cluster
    results stay exact, and a crash replay ACROSS the compaction
    boundary is still a clean skip."""
    import json

    from nasctn_sea_ingest_spark.operators.graph import star_components
    from nasctn_sea_ingest_spark.streaming import (
        components_stream_bucketed)

    n_buckets = 4
    cap = 3
    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream_bucketed(stream, out, ckpt,
                                       n_buckets=n_buckets,
                                       auto_compact_files=cap,
                                       available_now=True)
        try:
            q.awaitTermination(240)
        finally:
            q.stop()
            q.awaitTermination(30)

    def leaf_counts():
        counts = {}
        for aux in ("", "_directory", "_merges"):
            base = os.path.join(out, aux) if aux else out
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if "=" not in d or d.startswith("."):
                    continue
                leaf = os.path.join(base, d)
                counts[os.path.join(aux, d)] = sum(
                    1 for f in os.listdir(leaf)
                    if f.endswith(".parquet"))
        return counts

    hist = []
    for wave in range(12):                 # every wave merges clusters
        pairs = [(wave * 10 + i, (wave + 1) * 10 + i)
                 for i in range(3)]
        hist += pairs
        spark.createDataFrame(pairs, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        run()
    # bounded litter: no leaf may exceed the threshold by more than
    # one trigger's worth of appends (the post-compaction wave)
    counts = leaf_counts()
    assert counts and max(counts.values()) <= cap + 2, counts
    geom = json.load(open(os.path.join(out, "_store_geometry.json")))
    assert geom.get("n_compactions", 0) >= 1
    assert "last_compacted_batch" in geom
    # exactness after many auto-compactions
    want = {r.node: r.cluster for r in
            star_components(
                spark.createDataFrame(hist, schema)).collect()}
    got = {r.node: r.cluster for r in
           spark.read.parquet(out).select("node", "cluster").collect()}
    assert got == want
    # crash replay across the compaction boundary: clean skip
    _delete_commit_marker(ckpt)
    run()
    assert {r.node: r.cluster for r in
            spark.read.parquet(out)
            .select("node", "cluster").collect()} == want


def test_components_stream_crossover_guard(spark, tmp_path):
    """r13 verdict stretch #9: attaching the whole-rewrite components
    face to a store past the SCALE.md §29 crossover RAISES naming the
    bucketed face; crossover_bytes=None opts out; a small store
    attaches fine."""
    import pytest as _pytest

    from nasctn_sea_ingest_spark.streaming import components_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"
    spark.createDataFrame([(1, 2), (3, 4)], schema) \
        .coalesce(1).write.mode("append").parquet(land)

    def run(**kw):
        stream = spark.readStream.schema(schema).parquet(land)
        q = components_stream(stream, out, ckpt,
                              available_now=True, **kw)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    run()                                   # small store: fine
    assert spark.read.parquet(out).count() == 4

    with _pytest.raises(ValueError, match="bucketed"):
        components_stream(
            spark.readStream.schema(schema).parquet(land),
            out, ckpt, crossover_bytes=1)   # tiny line: trips
    # opt-out still attaches (no new data: trigger is a no-op)
    run(crossover_bytes=None)


def test_lpa_communities_stream_batch_parity(spark, tmp_path):
    """r13 verdict stretch #10: after EVERY wave the stored (node,
    community) snapshot equals batch label_propagation over all edges
    ever streamed — including a wave that BRIDGES two stored
    communities' components (non-monotone label flips confined to the
    re-run scope) — replay is stamp-skipped, and a snapshot lost to a
    crash rebuilds entirely from the edge log."""
    import shutil

    from nasctn_sea_ingest_spark.operators.graph import (
        label_propagation)
    from nasctn_sea_ingest_spark.streaming import lpa_communities_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "lpa")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = lpa_communities_stream(stream, out, ckpt, max_iter=8,
                                   auto_compact_files=2,
                                   available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    def stored():
        return {r.node: r.community for r in
                spark.read.parquet(out)
                .select("node", "community").collect()}

    def want(all_pairs):
        df = spark.createDataFrame(all_pairs, schema)
        return {r.node: r.community
                for r in label_propagation(df, max_iter=8).collect()}

    # two cliques + an unrelated path + a self-loop-only node
    clique = lambda base: [(base + i, base + j)
                           for i in range(4) for j in range(i + 1, 4)]
    waves = [
        clique(0) + clique(100) + [(200, 201), (201, 202), (300, 300)],
        [(3, 100)],                     # bridge: components merge, the
                                        # merged component's labels are
                                        # re-derived from scratch
        [(202, 203), (400, 401)],       # extend path + new component
    ]
    hist = []
    for w in waves:
        hist += w
        spark.createDataFrame(w, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        run()
        assert stored() == want(hist), f"after wave {len(hist)}"

    # replay: stamp-skipped
    before = stored()
    _delete_commit_marker(ckpt)
    run()
    assert stored() == before

    # snapshot lost mid-overwrite: the edge log (a sibling dir, so
    # the snapshot rewrite never touches it) is ground truth — a
    # later wave rebuilds the WHOLE snapshot from it
    shutil.rmtree(out)
    assert os.path.isdir(out + ".edges")
    # the log lives under a kb=0 partition leaf (flat roots are
    # refused by the compactor after the r14 ADVICE), and the in-slot
    # cadence (threshold 2) has folded its per-trigger litter at
    # least once by now
    assert not any(f.endswith(".parquet")
                   for f in os.listdir(out + ".edges"))
    nlog = sum(1 for f in os.listdir(out + ".edges/kb=0")
               if f.endswith(".parquet"))
    assert nlog <= 3, nlog
    w = [(500, 501)]
    hist += w
    spark.createDataFrame(w, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    assert stored() == want(hist)


def test_duplicate_spans_stream_matches_batch(spark, tmp_path):
    """ExactSubstr's streaming face: after EVERY wave the snapshot
    reader equals batch duplicate_spans over all docs ever streamed —
    including a wave whose windows retroactively make an EARLIER
    doc's span duplicated (visible in the snapshot, not re-alerted);
    cross-batch arrivals alert with the right total_count; replay is
    stamp-skipped; a different (window, n_buckets) re-attach raises."""
    from nasctn_sea_ingest_spark.operators.text import duplicate_spans
    from nasctn_sea_ingest_spark.streaming import (
        duplicate_spans_snapshot, duplicate_spans_stream)

    W = 3
    land = str(tmp_path / "land")
    out = str(tmp_path / "widx")
    al = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "doc_id long, text string"

    def run(window=W, ck=ckpt):
        stream = spark.readStream.schema(schema).parquet(land)
        q = duplicate_spans_stream(stream, out, ck, al, window=window,
                                   n_buckets=4, auto_compact_files=2,
                                   available_now=True)
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
            q.awaitTermination(30)

    def snapshot():
        return {(r.doc_id, r.start_word, r.end_word, r.n_windows)
                for r in duplicate_spans_snapshot(spark, out).collect()}

    def want(docs):
        df = spark.createDataFrame(docs, schema)
        return {(r.doc_id, r.start_word, r.end_word, r.n_windows)
                for r in duplicate_spans(df, window=W).collect()}

    waves = [
        # wave 1: an in-batch duplicate pair (docs 1/2) + a doc whose
        # span becomes duplicated only RETROACTIVELY (doc 3)
        [(1, "aa bb cc dd x1 x2"), (2, "y1 aa bb cc dd y2"),
         (3, "rr ss tt uu zz")],
        # wave 2: duplicates doc 3's run (retro case) + fresh unique
        [(4, "kk rr ss tt uu"), (5, "m1 m2 m3 m4")],
        [(6, "aa bb cc dd tail")],          # joins the wave-1 family
    ]
    hist = []
    for wv in waves:
        hist += wv
        spark.createDataFrame(wv, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        run()
        assert snapshot() == want(hist), f"after {len(hist)} docs"

    # wave-2 alerts: doc 4's windows matched doc 3's stored ones —
    # total_count counts both sides; doc 3 itself was NOT re-alerted
    a2 = spark.read.parquet(os.path.join(al, "batch=1")).collect()
    assert {r.doc_id for r in a2} == {4}
    assert all(r.total_count == 2 for r in a2)

    # replay: stamp-skipped (snapshot unchanged)
    before = snapshot()
    _delete_commit_marker(ckpt)
    run()
    assert snapshot() == before

    # geometry: window/bucket count bake into stored keys
    spark.createDataFrame([(9, "q1 q2 q3 q4")], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    with pytest.raises(Exception, match="geometry mismatch"):
        run(window=W + 1, ck=str(tmp_path / "ck2"))
    run()
    assert snapshot() == want(hist + [(9, "q1 q2 q3 q4")])


def _drop_stamped_files(spark, out, kbs, batch_id):
    """Plant a mid-commit append crash: remove the parquet file(s)
    carrying ``batch_id``'s rows from the given kb= buckets (per-
    trigger appends write one file per bucket, so this is exactly the
    state a crashed multi-partition job commit leaves)."""
    for kb in kbs:
        leaf = os.path.join(out, f"kb={kb}")
        for f in list(os.listdir(leaf)):
            p = os.path.join(leaf, f)
            if f.endswith(".parquet") and spark.read.parquet(p) \
                    .where(F.col("batch_id") == batch_id) \
                    .limit(1).count():
                os.remove(p)


def test_colocation_partial_append_replay_heals(spark, tmp_path):
    """r15 (the r14-ADVICE partial-append class, applied to every
    append-mode monitor): a colocation append whose job crashed
    mid-commit (one kb= partition promoted, another lost) must NOT be
    any-row skipped on replay — the missing bucket is re-appended
    without duplicating the committed one, and the recomputed alerts
    pair only against PRIOR batches (no self-pairs against the
    batch's own surviving rows)."""
    from nasctn_sea_ingest_spark.streaming import (
        colocation_monitor_stream)

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    al = str(tmp_path / "al")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "id long, x double, y double"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = colocation_monitor_stream(
            stream, out, ck, al, radius=1.0, n_buckets=4,
            available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    # wave 0: anchors in well-separated cells; wave 1: one point near
    # each anchor (cross-batch alerts) in >= 2 distinct buckets
    wave0 = [(1, 0.0, 0.0), (2, 50.0, 50.0), (3, 100.0, 0.0),
             (4, 0.0, 100.0)]
    wave1 = [(11, 0.2, 0.2), (12, 50.2, 50.2), (13, 100.2, 0.2),
             (14, 0.2, 100.2)]
    spark.createDataFrame(wave0, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    want_alerts = {(r.id1, r.id2) for r in
                   spark.read.parquet(os.path.join(al, "batch=1"))
                   .collect()}
    assert want_alerts == {(11, 1), (12, 2), (13, 3), (14, 4)}

    b1_kbs = sorted(r.kb for r in spark.read.parquet(out)
                    .where(F.col("batch_id") == 1)
                    .select("kb").distinct().collect())
    assert len(b1_kbs) >= 2, b1_kbs
    _delete_commit_marker(ck)
    _drop_stamped_files(spark, out, b1_kbs[:1], 1)
    run()                                       # replay heals
    rows = spark.read.parquet(out).select("id").collect()
    ids = sorted(r.id for r in rows)
    assert ids == [1, 2, 3, 4, 11, 12, 13, 14]  # once each, none lost
    got_alerts = {(r.id1, r.id2) for r in
                  spark.read.parquet(os.path.join(al, "batch=1"))
                  .collect()}
    assert got_alerts == want_alerts            # no self-pair echoes


def test_fuzzy_dedup_partial_append_replay_heals(spark, tmp_path):
    """Same class for the deletion-variant posting store: the crashed
    bucket's variants are restored on replay (a lost bucket would
    silently stop matching those variants forever), committed buckets
    are not double-appended, and alerts recompute identically."""
    from nasctn_sea_ingest_spark.streaming import fuzzy_dedup_stream

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    al = str(tmp_path / "al")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "id long, name string"

    def run():
        stream = spark.readStream.schema(schema).parquet(land)
        q = fuzzy_dedup_stream(stream, out, ck, al, id_col="id",
                               text_col="name", max_distance=1,
                               n_buckets=4, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    wave0 = [(1, "jonathan"), (2, "elizabeth"), (3, "katherine")]
    spark.createDataFrame(wave0, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    # wave 1: one near-match (alert) + two new names to append
    wave1 = [(11, "jonathon"), (12, "margaret"), (13, "frederick")]
    spark.createDataFrame(wave1, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    want_alerts = {(r.id, r.dup_of) for r in
                   spark.read.parquet(os.path.join(al, "batch=1"))
                   .collect()}
    assert want_alerts == {(11, 1)}
    total = spark.read.parquet(out).count()

    b1_kbs = sorted(r.kb for r in spark.read.parquet(out)
                    .where(F.col("batch_id") == 1)
                    .select("kb").distinct().collect())
    assert len(b1_kbs) >= 2, b1_kbs
    _delete_commit_marker(ck)
    _drop_stamped_files(spark, out, b1_kbs[:len(b1_kbs) // 2], 1)
    run()                                       # replay heals
    assert spark.read.parquet(out).count() == total
    dups = (spark.read.parquet(out)
            .groupBy("id", "variant")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1).count())
    assert dups == 0
    got_alerts = {(r.id, r.dup_of) for r in
                  spark.read.parquet(os.path.join(al, "batch=1"))
                  .collect()}
    assert got_alerts == want_alerts
    # the healed store still matches against the restored variants
    wave2 = [(21, "margarit")]                  # distance 1 from 12
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    run()
    a2 = {(r.id, r.dup_of) for r in
          spark.read.parquet(os.path.join(al, "batch=2")).collect()}
    assert a2 == {(21, 12)}


def _widx_run(spark, land, out, ck, al, window=3, n_buckets=4,
              acf=2, timeout=180):
    from nasctn_sea_ingest_spark.streaming import duplicate_spans_stream
    stream = spark.readStream.schema(
        "doc_id long, text string").parquet(land)
    q = duplicate_spans_stream(stream, out, ck, al, window=window,
                               n_buckets=n_buckets,
                               auto_compact_files=acf,
                               available_now=True)
    try:
        q.awaitTermination(timeout)
    finally:
        q.stop()
        q.awaitTermination(30)


def _widx_counts_match_index(spark, out):
    """The sidecar invariant: _counts holds exactly the occurrence
    index's per-hash totals (one logical row per distinct hash)."""
    idx = {r.h: r.n for r in
           spark.read.parquet(out).groupBy("h")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    cts = {r.h: r.n for r in
           spark.read.parquet(out + "/_counts").groupBy("h")
           .agg(F.sum("n").alias("n")).collect()}
    assert cts == idx


def test_duplicate_spans_stream_partial_append_replay_heals(
        spark, tmp_path):
    """r14 ADVICE (low): the replay skip must require EVERY touched
    bucket to carry the batch's stamp — an any-row skip would cement
    a multi-partition append whose job crashed mid-commit.  Plant
    exactly that state (some kb= partitions promoted, others not, the
    counts delta unwritten) and replay: the missing buckets are
    re-appended WITHOUT duplicating the committed ones, the counts
    sidecar lands exactly once, and alerts recompute identically."""
    import shutil
    from nasctn_sea_ingest_spark.operators.text import duplicate_spans
    from nasctn_sea_ingest_spark.streaming import (
        duplicate_spans_snapshot)

    land = str(tmp_path / "land")
    out = str(tmp_path / "widx")
    al = str(tmp_path / "al")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "doc_id long, text string"
    wave0 = [(1, "aa bb cc dd x1 x2"), (2, "y1 aa bb cc dd y2")]
    # doc 3 repeats wave 0's phrase; doc 4 spreads windows over many
    # buckets so the batch's append is genuinely multi-partition
    wave1 = [(3, "zz aa bb cc dd"),
             (4, " ".join(f"n{i}" for i in range(40)))]
    hist = []
    for wv in (wave0, wave1):
        hist += wv
        spark.createDataFrame(wv, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        _widx_run(spark, land, out, ck, al, acf=None)

    # plant the crash: drop batch 1's file from HALF its buckets and
    # strip its counts delta (written last, so a real crash between
    # the index and sidecar appends leaves exactly this)
    _delete_commit_marker(ck)
    b1_kbs = sorted(r.kb for r in spark.read.parquet(out)
                    .where(F.col("batch_id") == 1)
                    .select("kb").distinct().collect())
    assert len(b1_kbs) >= 2, b1_kbs
    removed = b1_kbs[:len(b1_kbs) // 2]
    for kb in removed:
        leaf = os.path.join(out, f"kb={kb}")
        for f in os.listdir(leaf):
            p = os.path.join(leaf, f)
            if f.endswith(".parquet") and spark.read.parquet(p) \
                    .where(F.col("batch_id") == 1).limit(1).count():
                os.remove(p)
    kept = spark.read.parquet(out + "/_counts") \
        .select("h", "n", "batch_id") \
        .where(F.col("batch_id") < 1).toPandas()
    shutil.rmtree(out + "/_counts")
    os.makedirs(out + "/_counts/cb=0")
    spark.createDataFrame(kept).coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "keep"))
    for f in os.listdir(str(tmp_path / "keep")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "keep" / f),
                      os.path.join(out, "_counts", "cb=0", f))

    _widx_run(spark, land, out, ck, al, acf=None)   # replay heals
    got = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
           for r in duplicate_spans_snapshot(spark, out).collect()}
    want = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
            for r in duplicate_spans(
                spark.createDataFrame(hist, schema), window=3)
            .collect()}
    assert got == want
    # no duplicated occurrence rows in the healed buckets
    dups = (spark.read.parquet(out)
            .groupBy("doc_id", "pos").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1).count())
    assert dups == 0
    _widx_counts_match_index(spark, out)
    a1 = spark.read.parquet(os.path.join(al, "batch=1")).collect()
    assert {r.doc_id for r in a1} == {3}
    # doc 3's two repeated windows were stored TWICE (docs 1 and 2)
    assert all(r.total_count == 3 for r in a1)


def test_duplicate_spans_stream_bootstraps_presidecar_store(
        spark, tmp_path):
    """Attaching to a store built before the counts sidecar existed
    must bootstrap _counts from the index's COMMITTED batches — and
    a bootstrap raced by a replay must exclude the replayed batch's
    (possibly partial) rows so its delta still lands exactly once."""
    import shutil
    from nasctn_sea_ingest_spark.operators.text import duplicate_spans
    from nasctn_sea_ingest_spark.streaming import (
        duplicate_spans_snapshot)

    land = str(tmp_path / "land")
    out = str(tmp_path / "widx")
    al = str(tmp_path / "al")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "doc_id long, text string"
    waves = [[(1, "aa bb cc dd x1"), (2, "y1 aa bb cc dd")],
             [(3, "rr ss tt uu vv"), (4, "kk rr ss tt uu")]]
    hist = []
    for wv in waves:
        hist += wv
        spark.createDataFrame(wv, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        _widx_run(spark, land, out, ck, al, acf=None)

    # a pre-sidecar store replaying its last batch: the nastiest
    # attach (bootstrap must NOT absorb the replayed batch's rows,
    # or the re-appended delta would double-count)
    shutil.rmtree(out + "/_counts")
    _delete_commit_marker(ck)
    _widx_run(spark, land, out, ck, al, acf=None)
    _widx_counts_match_index(spark, out)

    # and a plain committed-store attach: next wave bootstraps from
    # everything, then appends its own delta
    shutil.rmtree(out + "/_counts")
    wave2 = [(5, "aa bb cc dd tail")]
    hist += wave2
    spark.createDataFrame(wave2, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    _widx_run(spark, land, out, ck, al, acf=None)
    _widx_counts_match_index(spark, out)
    got = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
           for r in duplicate_spans_snapshot(spark, out).collect()}
    want = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
            for r in duplicate_spans(
                spark.createDataFrame(hist, schema), window=3)
            .collect()}
    assert got == want
    a2 = spark.read.parquet(os.path.join(al, "batch=2")).collect()
    assert {r.doc_id for r in a2} == {5}
    assert all(r.total_count == 3 for r in a2)   # 2 stored + 1 new


def test_window_index_reproject(spark, tmp_path):
    """Geometry migration (r14 verdict #1): one scan re-buckets an
    existing window index into a NEW directory, rebuilds the counts
    sidecar, carries batch stamps so the SAME checkpoint continues,
    and refuses an existing target."""
    from nasctn_sea_ingest_spark.operators.text import duplicate_spans
    from nasctn_sea_ingest_spark.streaming import (
        duplicate_spans_snapshot, window_index_reproject)

    land = str(tmp_path / "land")
    out = str(tmp_path / "widx")
    out2 = str(tmp_path / "widx8")
    al = str(tmp_path / "al")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "doc_id long, text string"
    hist = [(1, "aa bb cc dd x1"), (2, "y1 aa bb cc dd")]
    spark.createDataFrame(hist, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    _widx_run(spark, land, out, ck, al, n_buckets=4)

    n = window_index_reproject(spark, out, out2, n_buckets=8)
    assert n == spark.read.parquet(out).count()
    _widx_counts_match_index(spark, out2)
    with pytest.raises(ValueError, match="refuses existing target"):
        window_index_reproject(spark, out, out2, n_buckets=8)
    import json as _json
    geom = _json.load(open(os.path.join(out2,
                                        "_store_geometry.json")))
    assert geom["n_buckets"] == 8 and geom["window"] == 3

    # the SAME checkpoint continues against the re-bucketed store
    wave = [(3, "zz aa bb cc dd")]
    hist += wave
    spark.createDataFrame(wave, schema) \
        .coalesce(1).write.mode("append").parquet(land)
    _widx_run(spark, land, out2, ck, al, n_buckets=8)
    got = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
           for r in duplicate_spans_snapshot(spark, out2).collect()}
    want = {(r.doc_id, r.start_word, r.end_word, r.n_windows)
            for r in duplicate_spans(
                spark.createDataFrame(hist, schema), window=3)
            .collect()}
    assert got == want
    _widx_counts_match_index(spark, out2)
    a1 = spark.read.parquet(os.path.join(al, "batch=1")).collect()
    assert {r.doc_id for r in a1} == {3}
    assert all(r.total_count == 3 for r in a1)


def test_duplicate_spans_stream_feeds_removal(spark, tmp_path):
    """The composition the docstrings promise: a removal job consumes
    duplicate_spans_snapshot directly — rewritten docs equal the batch
    flag+rewrite pass over everything ever streamed (retroactive
    duplicates removed from EARLIER docs too)."""
    from nasctn_sea_ingest_spark.operators.text import (
        apply_span_removal, duplicate_spans)
    from nasctn_sea_ingest_spark.streaming import (
        duplicate_spans_snapshot, duplicate_spans_stream)

    W = 3
    land = str(tmp_path / "land")
    out = str(tmp_path / "widx")
    os.makedirs(land)
    schema = "doc_id long, text string"
    waves = [
        [(1, "aa bb cc dd tail1"), (2, "solo x y z")],
        [(3, "pre aa bb cc dd")],    # retro-duplicates doc 1's span
    ]
    hist = []
    for wv in waves:
        hist += wv
        spark.createDataFrame(wv, schema) \
            .coalesce(1).write.mode("append").parquet(land)
        stream = spark.readStream.schema(schema).parquet(land)
        q = duplicate_spans_stream(stream, out, str(tmp_path / "ck"),
                                   str(tmp_path / "al"), window=W,
                                   n_buckets=4, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    docs = spark.createDataFrame(hist, schema)
    via_stream = {r.doc_id: r.text for r in apply_span_removal(
        docs, duplicate_spans_snapshot(spark, out)).collect()}
    via_batch = {r.doc_id: r.text for r in apply_span_removal(
        docs, duplicate_spans(docs, window=W)).collect()}
    assert via_stream == via_batch
    assert via_stream[1] == "tail1"          # retro span removed
    assert via_stream[2] == "solo x y z"     # untouched, verbatim


def test_triangle_count_stream_parity_and_replay(spark, tmp_path):
    """triangle_count_stream's folded totals == graph.triangle_count
    over every distinct edge ever streamed, after EVERY wave — incl.
    an in-batch triangle, 1-new and 2-new cross-batch closures, and
    duplicate edges (in-batch and vs the store: no-op); a planted
    mid-commit append crash heals on replay with identical totals;
    geometry mismatch raises."""
    import pytest as _pt

    from nasctn_sea_ingest_spark.operators.graph import triangle_count
    from nasctn_sea_ingest_spark.streaming import (
        triangle_count_stream, triangle_totals_snapshot)

    land = str(tmp_path / "land")
    out = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    os.makedirs(land)
    schema = "d1 long, d2 long"

    def run(n_buckets=4):
        stream = spark.readStream.schema(schema).parquet(land)
        q = triangle_count_stream(stream, out, ck, n_buckets=n_buckets,
                                  available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)

    seen = []

    def feed(rows):
        seen.extend(rows)
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(land)

    def check():
        got = triangle_totals_snapshot(spark, out).first()
        want = triangle_count(
            spark.createDataFrame(seen, schema)).first()
        assert (got.n_edges, got.n_triangles) == \
            (want.n_edges, want.n_triangles), (got, want)

    # wave 0: one in-batch triangle + a dangling edge + an in-batch
    # duplicate row (distinct-collapsed)
    feed([(1, 2), (2, 3), (1, 3), (3, 4), (2, 1)])
    run(); check()
    # wave 1: close a triangle with ONE new edge (2-4 joins 3),
    # another with TWO new edges on stored (1,2) (nodes 5), plus a
    # store-duplicate (1,2) that must change nothing
    feed([(2, 4), (1, 5), (2, 5), (1, 2)])
    run(); check()
    # hand count: {1,2,3} from wave 0, plus wave 1's one-new-edge
    # closure {2,3,4} and two-new-edge closure {1,2,5} = 3 total
    snap1 = triangle_totals_snapshot(spark, out).first()
    assert snap1.n_triangles == 3
    # wave 2: planted mid-commit crash on a multi-bucket append
    feed([(6, 1), (6, 2), (6, 3)])         # two new triangles via 6
    run(); check()
    total_rows = spark.read.parquet(out).count()
    b2_kbs = sorted(r.kb for r in spark.read.parquet(out)
                    .where(F.col("batch_id") == 2)
                    .select("kb").distinct().collect())
    assert len(b2_kbs) >= 2, b2_kbs
    _delete_commit_marker(ck)
    _drop_stamped_files(spark, out, b2_kbs[:len(b2_kbs) // 2], 2)
    run()                                   # replay heals
    assert spark.read.parquet(out).count() == total_rows
    dup_adj = (spark.read.parquet(out).groupBy("node", "nbr")
               .agg(F.count(F.lit(1)).alias("c"))
               .where(F.col("c") > 1).count())
    assert dup_adj == 0
    check()
    # a later wave still counts correctly through the healed store
    feed([(4, 6)])
    run(); check()
    # geometry raise: different n_buckets cannot attach (fresh
    # checkpoint — the established mismatched-attach pattern)
    spark.createDataFrame([(7, 8)], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    stream = spark.readStream.schema(schema).parquet(land)
    with _pt.raises(Exception, match="geometry mismatch"):
        q = triangle_count_stream(stream, out, str(tmp_path / "ck2"),
                                  n_buckets=8, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            q.awaitTermination(30)


def test_read_parquet_or_none_skips_missing_local_store(tmp_path):
    """A local store dir that does not exist yet is answered without a
    Spark read (which would log a stack trace before failing); a path with
    a URI scheme is always left to Spark."""
    from nasctn_sea_ingest_spark.streaming import _read_parquet_or_none

    class _NoRead:
        @property
        def read(self):
            raise AssertionError("spark.read was called")

    assert _read_parquet_or_none(_NoRead(), str(tmp_path / "absent")) is None
    with pytest.raises(AssertionError, match="spark.read"):
        _read_parquet_or_none(_NoRead(), f"file:{tmp_path / 'absent'}")
