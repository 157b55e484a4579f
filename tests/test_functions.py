"""Property-style tests for the query-helper library: every array statistic
is checked against numpy/pandas on randomized traces; the as-of join against
``pandas.merge_asof`` plus a bidirectional-nearest reference implementation.
"""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F
from pyspark.sql import Row

import nasctn_sea_ingest_spark.functions as FN

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def arrays_df(spark):
    rows = []
    for i in range(40):
        n = int(RNG.integers(1, 50))
        vals = RNG.normal(-80, 10, n).astype(np.float32)
        rows.append(Row(id=i, values=[float(x) for x in vals]))
    df = spark.createDataFrame(rows, "id int, values array<float>")
    return df, {r.id: np.array(r.values, dtype=np.float64) for r in rows}


def _check(spark_rows, expect_fn, data, atol=1e-9):
    for r in spark_rows:
        want = expect_fn(data[r.id])
        if r.out is None or (isinstance(want, float) and np.isnan(want)):
            assert r.out is None and np.isnan(want), f"id={r.id}"
            continue
        assert r.out == pytest.approx(want, abs=atol), f"id={r.id}"


def test_array_mean(arrays_df):
    df, data = arrays_df
    rows = df.select("id", FN.array_mean("values").alias("out")).collect()
    _check(rows, np.mean, data)


@pytest.mark.parametrize("q", [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0])
def test_array_quantile_matches_numpy(arrays_df, q):
    df, data = arrays_df
    rows = df.select("id", FN.array_quantile("values", q).alias("out")).collect()
    _check(rows, lambda a: np.quantile(a, q), data, atol=1e-9)


def test_array_median(arrays_df):
    df, data = arrays_df
    rows = df.select("id", FN.array_median("values").alias("out")).collect()
    _check(rows, np.median, data)


def test_array_midmean(arrays_df):
    df, data = arrays_df
    rows = df.select("id", FN.array_midmean("values").alias("out")).collect()

    def midmean(a):
        lo, hi = np.quantile(a, 0.25), np.quantile(a, 0.75)
        kept = a[(a >= lo) & (a <= hi)]
        return kept.mean() if len(kept) else float("nan")

    _check(rows, midmean, data)


def test_array_sort_helper_matches_array_sort(spark):
    """functions._array_sort is F.array_sort without the comparator
    lambda: the same elements in the same order, compared as strings so
    that NaN, -0.0 against 0.0 and nulls count, on arrays whose type
    admits nulls and on null-free ones (code-generated sort_array takes
    a primitive sort on those)."""
    from pyspark.sql import types as T

    from nasctn_sea_ingest_spark.functions import _array_sort

    nan = float("nan")
    nullable = [[0.0, -0.0, 1.0, -0.0, 0.0], [nan, 1.0, None, -0.0, 0.0],
                [None, None], [None], [3.0], [], None, [nan, None],
                [-0.0, 0.0, None, -1.0, float("inf"), float("-inf"), nan]]
    null_free = [[0.0, -0.0, 1.0, nan, -0.0, 0.0], [nan, -0.0], [2.0], []]
    rng = np.random.default_rng(11)
    pool = [0.0, -0.0, nan, 1.0, -1.0, 2.5]
    for _ in range(60):
        picks = rng.integers(0, len(pool) + 1, int(rng.integers(0, 10)))
        nullable.append([None if i == len(pool) else pool[i] for i in picks])
        null_free.append([pool[i % len(pool)] for i in picks])

    def strings(a):
        return None if a is None else [str(x) for x in a]

    for rows, element_nulls in ((nullable, True), (null_free, False)):
        schema = T.StructType([T.StructField(
            "v", T.ArrayType(T.DoubleType(), element_nulls))])
        df = spark.createDataFrame([(r,) for r in rows], schema)
        got = df.select(F.array_sort("v").alias("want"),
                        _array_sort(F.col("v")).alias("got")).collect()
        assert len(got) == len(rows)
        for r in got:
            assert strings(r.got) == strings(r.want), r.want


def test_array_quantiles_of_empty_array_are_null(spark):
    """An empty array has no quantile: NULL, as a NULL array gives (the
    quantile index would be element 0, an error under ANSI)."""
    df = spark.createDataFrame([(1, []), (2, None), (3, [2.0, 1.0, 4.0])],
                               "id int, values array<float>")
    got = {r.id: r for r in df.select(
        "id", FN.array_median("values").alias("med"),
        FN.array_quantile("values", 0.9).alias("q90"),
        FN.array_midmean("values").alias("mid")).collect()}
    assert (got[1].med, got[1].q90, got[1].mid) == (None, None, None)
    assert (got[2].med, got[2].q90, got[2].mid) == (None, None, None)
    assert got[3].med == 2.0
    assert got[3].q90 == pytest.approx(3.6)
    assert got[3].mid == 2.0


def test_array_means_of_empty_array_are_null(spark):
    """An empty array has no mean: NULL, as a NULL array gives (the
    division by its size would be an error under ANSI)."""
    df = spark.createDataFrame([(1, []), (2, None), (3, [2.0, 1.0, 4.0])],
                               "id int, values array<float>")
    got = {r.id: r for r in df.select(
        "id", FN.array_mean("values").alias("mean"),
        FN.array_mean_db("values").alias("mean_db")).collect()}
    assert (got[1].mean, got[1].mean_db) == (None, None)
    assert (got[2].mean, got[2].mean_db) == (None, None)
    assert got[3].mean == pytest.approx(7 / 3)
    assert got[3].mean_db == pytest.approx(
        10 * np.log10(np.mean(10 ** (np.array([2.0, 1.0, 4.0]) / 10))))


def test_array_db_aggregates(arrays_df):
    df, data = arrays_df
    rows = df.select("id", FN.array_mean_db("values").alias("out")).collect()
    _check(rows, lambda a: 10 * np.log10(np.mean(10 ** (a / 10))), data, atol=1e-8)
    rows = df.select("id", FN.array_sum_db("values").alias("out")).collect()
    _check(rows, lambda a: 10 * np.log10(np.sum(10 ** (a / 10))), data, atol=1e-8)


def test_array_roll(spark):
    vals = list(range(10))
    df = spark.createDataFrame(
        [Row(s=s, values=vals) for s in (-3, 0, 1, 7, 10, 23)],
        "s int, values array<int>")
    rows = df.select("s", FN.array_roll("values", "s").alias("out")).collect()
    for r in rows:
        want = np.roll(vals, -r.s).tolist()
        assert r.out == want, f"shift={r.s}"


def test_explode_trace_axis(spark):
    df = spark.createDataFrame(
        [Row(id=1, values=[1.0, 2.0, 3.0], x_start=-10.0, x_step=2.5)],
        "id int, values array<float>, x_start double, x_step double")
    rows = FN.explode_trace(df).orderBy("bin").collect()
    assert [r.bin for r in rows] == [0, 1, 2]
    assert [r.x for r in rows] == [-10.0, -7.5, -5.0]
    assert [r.value for r in rows] == [1.0, 2.0, 3.0]


def test_trace_selector(spark):
    df = spark.createDataFrame(
        [Row(table="pfp", datetime=1, frequency=1.0, detector="rms", v=1),
         Row(table="pfp", datetime=1, frequency=2.0, detector="peak", v=2),
         Row(table="psd", datetime=1, frequency=1.0, detector=None, v=3)])
    got = FN.trace(df, "pfp", detector="rms").collect()
    assert len(got) == 1 and got[0].v == 1
    d = {"pfp": df.where("table = 'pfp'")}
    got = FN.trace(d, "pfp", columns="v", frequency=2.0).collect()
    assert len(got) == 1 and got[0].v == 2
    assert "datetime" in got[0].asDict()


# --------------------------------------------------------------------------
# as-of join vs pandas
# --------------------------------------------------------------------------

def _nearest_ref(lts, rts, rvals):
    """Bidirectional nearest with backward tie-break."""
    out = []
    for t in lts:
        d = np.abs(np.array(rts) - t)
        lo = np.where(np.array(rts) <= t, d, np.inf)
        best_back = int(np.argmin(lo)) if np.isfinite(lo).any() else None
        i = int(np.argmin(d))
        # backward tie-break: if the backward candidate is equally near, take it
        if best_back is not None and d[best_back] <= d[i]:
            i = best_back
        out.append((rvals[i], float(d[i])))
    return out


@pytest.mark.parametrize("direction", ["nearest", "backward", "forward"])
def test_asof_join_directions(spark, direction):
    lts = sorted(RNG.choice(10_000, 60, replace=False).tolist())
    rts = sorted(RNG.choice(10_000, 25, replace=False).tolist())
    left = spark.createDataFrame([Row(t=int(t), lid=i) for i, t in enumerate(lts)])
    right = spark.createDataFrame(
        [Row(t=int(t), rval=float(i)) for i, t in enumerate(rts)])
    got = {r.lid: (r.rval, r.asof_dist)
           for r in FN.asof_join(left, right, on="t",
                                 direction=direction).collect()}
    lpd = pd.DataFrame({"t": lts, "lid": range(len(lts))})
    rpd = pd.DataFrame({"t": rts, "rval": [float(i) for i in range(len(rts))]})
    want = pd.merge_asof(lpd, rpd, on="t", direction=direction)
    for _, w in want.iterrows():
        g_val, _ = got[w.lid]
        if np.isnan(w.rval):
            assert g_val is None
        else:
            assert g_val == w.rval, f"lid={w.lid} dir={direction}"


def test_asof_join_nearest_dist_and_by(spark):
    data_l, data_r, expect = [], [], {}
    for grp in ("a", "b"):
        lts = sorted(RNG.choice(5_000, 40, replace=False).tolist())
        rts = sorted(RNG.choice(5_000, 12, replace=False).tolist())
        rvals = [f"{grp}{i}" for i in range(len(rts))]
        data_l += [Row(g=grp, t=int(t), lid=f"{grp}{i}")
                   for i, t in enumerate(lts)]
        data_r += [Row(g=grp, t=int(t), rv=v) for t, v in zip(rts, rvals)]
        for (rv, dist), lid in zip(_nearest_ref(lts, rts, rvals),
                                   [f"{grp}{i}" for i in range(len(lts))]):
            expect[lid] = (rv, dist)
    left = spark.createDataFrame(data_l)
    right = spark.createDataFrame(data_r)
    got = FN.asof_join(left, right, on="t", by=["g"]).collect()
    assert len(got) == len(data_l)
    for r in got:
        rv, dist = expect[r.lid]
        assert (r.rv, r.asof_dist) == (rv, dist), f"lid={r.lid}"


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([Row(t=100, lid=0), Row(t=500, lid=1)])
    right = spark.createDataFrame([Row(t=110, rv=1.0)])
    got = {r.lid: r.rv for r in
           FN.asof_join(left, right, on="t", tolerance=50).collect()}
    assert got[0] == 1.0 and got[1] is None


@pytest.mark.parametrize("by", [None, ["g"]])
@pytest.mark.parametrize("direction", ["nearest", "backward", "forward"])
def test_asof_join_duplicate_right_timestamps(spark, direction, by):
    """Tie contract (r15 ADVICE): when several RIGHT rows share the
    matched timestamp, the join returns the payload of SOME member of
    that tie class — the matched timestamp and distance are fully
    determined, only the payload pick within the class is
    implementation-defined (forward `first` and the reversed running
    `last` may pick different members).  Pin the determined parts and
    the membership, on both the keyed and unkeyed paths."""
    # right: t=100 x3 payloads, t=300 x2 payloads, t=700 x1
    rrows = [(100, "a"), (100, "b"), (100, "c"),
             (300, "d"), (300, "e"), (700, "f")]
    tie = {100: {"a", "b", "c"}, 300: {"d", "e"}, 700: {"f"}}
    lrows = [(50, 0), (100, 1), (180, 2), (299, 3), (450, 4), (900, 5)]
    # expected matched right TIMESTAMP per lid (payload = any member)
    want_t = {
        "nearest": {0: 100, 1: 100, 2: 100, 3: 300, 4: 300, 5: 700},
        "backward": {0: None, 1: 100, 2: 100, 3: 100, 4: 300, 5: 700},
        "forward": {0: 100, 1: 100, 2: 300, 3: 300, 4: 700, 5: None},
    }[direction]
    g = (lambda rows: [r + ("g1",) for r in rows])
    left = spark.createDataFrame(
        g(lrows) if by else lrows,
        "t int, lid int" + (", g string" if by else ""))
    right = spark.createDataFrame(
        g(rrows) if by else rrows,
        "t int, rv string" + (", g string" if by else ""))
    got = {r.lid: r for r in
           FN.asof_join(left, right, on="t", by=by,
                        direction=direction).collect()}
    for lid, wt in want_t.items():
        r = got[lid]
        if wt is None:
            assert r.rv is None and r.asof_dist is None, f"lid={lid}"
        else:
            lt = next(t for t, i in lrows if i == lid)
            assert r.rv in tie[wt], f"lid={lid}: {r.rv} not in tie({wt})"
            assert r.asof_dist == abs(lt - wt), f"lid={lid}"


def test_register_asof_view_pure_sql(spark):
    """The MATCH_NEAREST-style SQL surface: after one registration call a
    pure-SQL client queries the as-of result with spark.sql only, gets
    the exact DataFrame-API values, and key filters compose into the
    plan below the as-of shuffle (the view is a logical plan, not
    data)."""
    data_l, data_r = [], []
    for grp in ("a", "b"):
        lts = sorted(RNG.choice(5_000, 30, replace=False).tolist())
        rts = sorted(RNG.choice(5_000, 9, replace=False).tolist())
        data_l += [Row(g=grp, t=int(t), lid=f"{grp}{i}")
                   for i, t in enumerate(lts)]
        data_r += [Row(g=grp, t=int(t), rv=f"{grp}v{i}")
                   for i, t in enumerate(rts)]
    spark.createDataFrame(data_l).createOrReplaceTempView("asof_l")
    spark.createDataFrame(data_r).createOrReplaceTempView("asof_r")
    FN.register_asof_view(spark, "asof_lr", "asof_l", "asof_r",
                          on="t", by=["g"])

    got = spark.sql(
        "SELECT lid, rv, asof_dist FROM asof_lr WHERE g = 'a'")
    want = {(r.lid, r.rv, r.asof_dist)
            for r in FN.asof_join(
                spark.table("asof_l"), spark.table("asof_r"),
                on="t", by=["g"]).where("g = 'a'")
            .select("lid", "rv", "asof_dist").collect()}
    assert {tuple(r) for r in got.collect()} == want
    assert len(want) == 30
    # the g-filter reaches the scans (below the as-of window shuffle):
    # no 'b' rows survive into the window input
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Filter") >= 1 and "Window" in plan
    # SQL-side aggregation over the view also composes
    n = spark.sql("SELECT count(*) AS n FROM asof_lr").first().n
    assert n == 60


# --------------------------------------------------------------------------
# limiter / gaps / pivot / scalars
# --------------------------------------------------------------------------

def test_limiter(spark):
    rows = [Row(g="a", t=i) for i in range(10)] + \
           [Row(g="b", t=i) for i in range(4)] + \
           [Row(g="c", t=i) for i in range(7)]
    out = FN.limiter(spark.createDataFrame(rows), ["g"], ["t"])
    counts = {r.g: r.n for r in
              out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 4, "b": 4, "c": 4}
    # kept rows are the earliest per order
    assert out.where("g = 'a'").agg(F.max("t")).first()[0] == 3


def test_time_gaps(spark):
    from datetime import datetime, timezone
    df = spark.createDataFrame(
        [Row(g="x", datetime=datetime.fromtimestamp(t, tz=timezone.utc))
         for t in (0, 90, 180, 400)])
    got = FN.time_gaps(df, by=["g"]).orderBy("datetime").collect()
    assert [r.gap_seconds for r in got] == [None, 90.0, 90.0, 220.0]


def test_pivot_wide(spark):
    df = spark.createDataFrame(
        [Row(k=1, s="max", v=10.0), Row(k=1, s="mean", v=5.0),
         Row(k=2, s="max", v=20.0), Row(k=2, s="mean", v=15.0)])
    out = FN.pivot_wide(df, ["k"], "s", "v", ["max", "mean"]) \
        .orderBy("k").collect()
    assert out[0]["max"] == 10.0 and out[0]["mean"] == 5.0
    assert out[1]["max"] == 20.0 and out[1]["mean"] == 15.0


def test_localize(spark):
    from datetime import datetime
    df = spark.createDataFrame(
        [Row(datetime=datetime(2023, 9, 17, 12, 0, 0), timezone="America/Denver")])
    r = FN.localize(df).first()
    assert r.datetime_local == datetime(2023, 9, 17, 6, 0, 0)


def test_rayleigh_and_noise_floor(spark):
    df = spark.createDataFrame([Row(p=0.5, nf=5.0)])
    r = df.select(FN.rayleigh_amplitude("p", 0.0).alias("ray"),
                  FN.noise_floor_dBm("nf").alias("floor")).first()
    assert r.ray == pytest.approx(-10 * np.log10(-np.log(0.5)))
    # kTB(290K, 10 MHz) ≈ −103.98 dBm; +5 dB NF ≈ −98.98
    assert r.floor == pytest.approx(-98.98, abs=0.05)


def test_salted_agg_equivalence(spark):
    """Salted two-phase aggregation must equal the plain groupBy for every
    supported algebraic op, including on a heavily skewed key."""
    rows = [Row(k="hot", v=float(i % 97)) for i in range(5000)] + \
           [Row(k=f"cold{i}", v=float(i)) for i in range(50)]
    df = spark.createDataFrame(rows)
    aggs = {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"),
            "mx": ("max", "v"), "a": ("avg", "v")}
    got = {r.k: r for r in FN.salted_agg(df, ["k"], aggs).collect()}
    want = {r.k: r for r in df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"),
        F.avg("v").alias("a")).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].n == want[k].n and got[k].mn == want[k].mn \
            and got[k].mx == want[k].mx, k
        assert got[k].s == pytest.approx(want[k].s)
        assert got[k].a == pytest.approx(want[k].a)
    with pytest.raises(ValueError):
        FN.salted_agg(df, ["k"], {"m": ("median", "v")})


def test_db_roundtrip(spark):
    df = spark.createDataFrame([Row(x=-77.0)])
    r = df.select(FN.power_to_db(FN.db_to_power("x")).alias("p"),
                  FN.env_to_db(FN.db_to_env("x")).alias("e")).first()
    assert r.p == pytest.approx(-77.0)
    assert r.e == pytest.approx(-77.0)


def test_interval_join_matches_naive(spark, sf_dir):
    """Bucketed interval join == naive BETWEEN join, across bucket widths
    (pair meets in exactly one bucket — no dups), incl. by-keys."""
    from nasctn_sea_ingest_spark.functions import interval_join
    from nasctn_sea_ingest_spark.plans.tables import load_table
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us").cache()
    w = (ev.groupBy(F.col("user_id").alias("w_user"))
           .agg(F.min("ts_us").alias("s_us"),
                (F.min("ts_us") + 3_600_000_000).alias("e_us"))).cache()

    naive = ev.join(w, (F.col("ts_us") >= F.col("s_us"))
                    & (F.col("ts_us") <= F.col("e_us")))
    want = sorted((r.event_id, r.w_user) for r in
                  naive.select("event_id", "w_user").collect())
    for bucket in (1_000_000_000, 3_600_000_000, 10_000_000_000):
        got = interval_join(ev, w, "ts_us", "s_us", "e_us", bucket=bucket)
        rows = sorted((r.event_id, r.w_user) for r in
                      got.select("event_id", "w_user").collect())
        assert rows == want, bucket

    # by-keys: only the user's own window
    w2 = w.withColumnRenamed("w_user", "user_id")
    got = interval_join(ev, w2, "ts_us", "s_us", "e_us",
                        bucket=3_600_000_000, by=["user_id"])
    naive2 = ev.alias("e").join(
        w2.alias("w"), (F.col("e.user_id") == F.col("w.user_id"))
        & (F.col("ts_us") >= F.col("s_us"))
        & (F.col("ts_us") <= F.col("e_us")))
    assert got.count() == naive2.count()
    ev.unpersist(); w.unpersist()


def test_approx_aggs_error_bounds(spark, sf_dir):
    """HLL++ distinct counts within rsd bound; approx median within 1% of
    exact — the contract that lets them replace exact aggs at scale."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.plans.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = (li.groupBy("l_returnflag")
             .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
                  F.countDistinct("l_partkey").alias("exact"),
                  F.percentile_approx("l_extendedprice", 0.5, 10000)
                   .alias("p50a"),
                  F.expr("percentile(l_extendedprice, 0.5)").alias("p50"))
             .collect())
    assert got
    for r in got:
        assert abs(r.approx - r.exact) <= max(3, 0.06 * r.exact)
        assert abs(r.p50a - r.p50) <= 0.01 * abs(r.p50)


def test_array_stats_single_sort_per_row(spark):
    """Regression guard for expression re-evaluation blowup: without the
    let-binding in functions._let, midmean re-sorted the array inside its
    filter predicate PER ELEMENT (~2n sorts/row — minutes for this frame).
    A coarse wall bound is robust: broken ≈ >600 s, fixed ≈ <1 s."""
    import time

    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark import functions as FN

    df = spark.range(5_000).select(F.expr(
        "transform(sequence(1, 625), i -> cast(i % 97 as double))")
        .alias("values"))
    t0 = time.perf_counter()
    df.select(F.sum(FN.array_midmean("values")),
              F.sum(FN.array_quantile("values", 0.9))).collect()
    assert time.perf_counter() - t0 < 60


def test_exact_median_large_matches_percentile(spark):
    """Value-compressed two-pass median == percentile(0.5) exactly, for
    odd/even group sizes, heavy duplication, and negative values."""
    import numpy as np
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark import functions as FN

    rs = np.random.RandomState(11)
    rows = []
    for g, n in (("odd", 101), ("even", 100), ("dups", 400), ("one", 1)):
        if g == "dups":
            vals = rs.choice([-3.5, 0.0, 1.25, 7.0], n)
        else:
            vals = np.round(rs.normal(0, 10, n), 3)
        rows += [(g, float(v)) for v in vals]
    rows += [("odd", None), ("even", None)]   # NULLs: ignored like percentile
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: (r.median, r.n)
           for r in FN.exact_median_large(df, ["g"], "v").collect()}
    want = {r.g: r.m for r in
            df.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("m"))
              .collect()}
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g], g
    assert got["one"][1] == 1 and got["even"][1] == 100


def test_query_log(spark, sf_dir):
    """QueryLog records wall/rows/plan digest per action, survives errors,
    and the digest tracks plan SHAPE (stable across expr-id renumbering,
    changed by a structural change)."""
    import pytest
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark.plans.tables import load_table
    from nasctn_sea_ingest_spark.querylog import QueryLog, plan_digest

    qlog = QueryLog()
    d = load_table(spark, sf_dir, "documents")
    n = qlog.run("count_docs", d)
    assert n == d.count()
    got = qlog.run("take3", d, action=lambda df: len(df.take(3)))
    assert got == 3
    with pytest.raises(Exception):
        qlog.run("boom", d.select(F.raise_error(F.lit("x"))),
                 action=lambda df: df.collect())
    log = qlog.to_df(spark).collect()
    assert [r.name for r in log] == ["count_docs", "take3", "boom"]
    assert log[0].rows == n and log[0].error is None
    assert log[1].rows == 3
    assert log[2].error and "boom" != log[2].plan_digest
    assert all(r.wall_s >= 0 for r in log)
    # digest is shape-stable: same query twice → same digest; a structural
    # change (added filter) → different digest
    assert plan_digest(d.select("doc_id")) == \
        plan_digest(d.select("doc_id"))
    assert plan_digest(d.select("doc_id")) != \
        plan_digest(d.select("doc_id").where(F.col("doc_id") > 5))


def test_digest_context_stability(spark, sf_dir):
    """The q159/q44 digest must not depend on session context (round-8
    driver false alarm: multi-countDistinct compiles through
    RewriteDistinctAggregates, whose Expand gid-group ordering follows
    session expression-id state, so the digest flipped between a fresh
    session and mid-bench).  Both queries were rewritten to single-
    distinct / count-over-marginals plans; this exercises each in two
    contexts — first thing after plan-build, then again after a dozen
    other corpus plans have burned through expression ids — and demands
    identical digests.  tools/digest_stability.py --context runs the
    full-corpus version of this check."""
    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.querylog import plan_digest

    byname = {q.name: q for q in CORPUS}
    targets = ["q159_chi_squared"]
    first = {}
    for name in targets:
        df = byname[name].spark(spark, sf_dir)
        df.count()
        first[name] = plan_digest(df)
    spark.catalog.clearCache()
    # burn expression ids: build + run a spread of other corpus plans
    others = sorted(n for n in byname if n not in targets)[::12]
    for name in others:
        try:
            byname[name].spark(spark, sf_dir).count()
        except Exception:  # noqa: BLE001 — context burn only
            pass
        spark.catalog.clearCache()
    for name in targets:
        df = byname[name].spark(spark, sf_dir)
        df.count()
        assert plan_digest(df) == first[name], \
            f"{name} digest is context-sensitive again"


from hypothesis import given as _given, settings as _settings, \
    strategies as _st  # noqa: E402


@_settings(max_examples=12, deadline=None)
@_given(
    data=_st.data(),
    direction=_st.sampled_from(["nearest", "backward", "forward"]),
    tol=_st.sampled_from([None, 50, 500]),
)
def test_asof_join_property_vs_merge_asof(spark, data, direction, tol):
    """Randomized keyed as-of equivalence with pandas merge_asof across
    directions and tolerances (unique timestamps per side per key)."""
    keys = ["a", "b"]
    lrows, rrows = [], []
    for k in keys:
        lts = sorted(data.draw(_st.sets(
            _st.integers(0, 3000), min_size=1, max_size=25)))
        rts = sorted(data.draw(_st.sets(
            _st.integers(0, 3000), min_size=1, max_size=12)))
        lrows += [(k, int(t)) for t in lts]
        rrows += [(k, int(t), float(hash((k, t)) % 1000)) for t in rts]
    left = spark.createDataFrame(lrows, "k string, t long")
    right = spark.createDataFrame(rrows, "k string, t long, rval double")
    got = {(r.k, r.t): r.rval
           for r in FN.asof_join(left, right, on="t", by=["k"],
                                 direction=direction,
                                 tolerance=tol).collect()}
    lpd = pd.DataFrame(lrows, columns=["k", "t"]).sort_values("t")
    rpd = pd.DataFrame(rrows, columns=["k", "t", "rval"]).sort_values("t")
    want = pd.merge_asof(lpd, rpd, on="t", by="k", direction=direction,
                         tolerance=tol)
    assert len(got) == len(want)
    for _, w in want.iterrows():
        g = got[(w.k, w.t)]
        if np.isnan(w.rval):
            assert g is None, (w.k, w.t, direction, tol)
        else:
            assert g == w.rval, (w.k, w.t, direction, tol)


def test_merge_upsert_last_wins(spark):
    from nasctn_sea_ingest_spark.functions import merge_upsert
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b"), (3, 12, "c")],
        "k long, v long, payload string")
    upd = spark.createDataFrame(
        [(2, 20, "B"), (2, 19, "Bold"), (4, 21, "D")],
        "k long, v long, payload string")
    got = {r.k: (r.v, r.payload)
           for r in merge_upsert(base, upd, ["k"], ["v"]).collect()}
    # unmatched base keys pass through, updated key takes the HIGHEST v
    # across both sides, insert-only keys appear
    assert got == {1: (10, "a"), 2: (20, "B"), 3: (12, "c"), 4: (21, "D")}
    # ties on the version column resolve by the trailing unique column
    tie = merge_upsert(base, spark.createDataFrame(
        [(1, 10, "z")], "k long, v long, payload string"),
        ["k"], ["v", "payload"]).where("k = 1").collect()
    assert tie[0].payload == "z"


def test_quality_audit_planted_violations(spark):
    from nasctn_sea_ingest_spark.operators import quality as Q
    o = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "9-BOGUS"), (2, None), (4, "2-HIGH")],
        "o_orderkey long, o_orderpriority string")
    li = spark.createDataFrame(
        [(1, 5.0), (99, 60.0), (None, 2.0)],
        "l_orderkey long, l_quantity double")
    rep = {r.rule: r.violations for r in Q.audit(
        {"orders": (o, [Q.unique(["o_orderkey"]),
                        Q.not_null("o_orderpriority"),
                        Q.accepted_values("o_orderpriority",
                                          ["1-URGENT", "2-HIGH"])]),
         "lineitem": (li, [Q.in_range("l_quantity", 1, 50)])},
        referential_rules=[Q.referential("lineitem.fk", li, "l_orderkey",
                                         o, "o_orderkey")]).collect()}
    assert rep == {
        "orders.o_orderkey.unique": 1,          # key 2 twice
        "orders.o_orderpriority.not_null": 1,
        "orders.o_orderpriority.accepted_values": 1,  # 9-BOGUS (null ok)
        "lineitem.l_quantity.range": 1,         # 60.0
        "lineitem.fk": 1,                       # 99 orphan (null ignored)
    }
    # unique semantics: NULL-bearing keys are excluded, and multi-column
    # tuples are compared as tuples (no string-encoding collisions)
    t = spark.createDataFrame(
        [(1, None), (None, 1), (2, 2), (2, 2), (None, None)],
        "a int, b int")
    rep2 = {r.rule: r.violations
            for r in Q.audit({"t": (t, [Q.unique(["a", "b"])])}).collect()}
    assert rep2 == {"t.a+b.unique": 1}  # only the (2,2) duplicate
    import pytest as _pt
    with _pt.raises(ValueError):
        Q.audit({})
    with _pt.raises(ValueError):
        Q.audit({"t": (t, [])})


def test_snapshot_diff_classification(spark):
    from nasctn_sea_ingest_spark.functions import snapshot_diff
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k long, v double, tag string")
    cur = spark.createDataFrame(
        [(2, 21.0, "b"), (3, 30.0, "c"), (4, 40.0, "d"), (5, 50.0, "e")],
        "k long, v double, tag string")
    got = {r.k: r.op for r in
           snapshot_diff(base, cur, ["k"], ["v", "tag"]).collect()}
    # k=1 deleted, k=2 value change, k=3 NULL->value (null-safe compare
    # counts as update), k=4 unchanged (absent), k=5 inserted
    assert got == {1: "delete", 2: "update", 3: "update", 5: "insert"}
    row = {r.k: r for r in
           snapshot_diff(base, cur, ["k"], ["v", "tag"]).collect()}
    assert row[2].old.v == 20.0 and row[2].new.v == 21.0
    assert row[1].new is None and row[5].old is None


def test_weighted_median_large_matches_bruteforce(spark):
    """Histogram-refinement weighted median == the brute-force
    cumulative-window definition (min v with 2*cumw(<=v) >= totw), for
    duplicated values, integer/fractional weights, negative values,
    bucket widths that straddle the boundary, and single-row groups."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark import functions as FN

    rs = np.random.RandomState(7)
    rows = []
    for g, n in (("a", 500), ("b", 401), ("dups", 300), ("one", 1)):
        vals = (rs.choice([-2.5, 0.0, 3.25, 9.0], n) if g == "dups"
                else np.round(rs.normal(0, 50, n), 2))
        wts = rs.randint(1, 9, n)
        rows += [(g, float(v), float(w)) for v, w in zip(vals, wts)]
    rows += [("a", None, 1.0), ("b", 1.0, None)]   # ignored
    df = spark.createDataFrame(rows, "g string, v double, w double")

    run = Window.partitionBy("g").orderBy("v")
    tot = Window.partitionBy("g")
    wd = F.col("w").cast("decimal(18,2)")
    brute = (df.where(F.col("v").isNotNull() & F.col("w").isNotNull())
             .select("g", "v", F.sum(wd).over(run).alias("cumw"),
                     F.sum(wd).over(tot).alias("totw"))
             .where(F.lit(2) * F.col("cumw") >= F.col("totw"))
             .groupBy("g").agg(F.min("v").alias("m")))
    want = {r.g: r.m for r in brute.collect()}
    for width in (1.0, 7.5, 1000.0):
        got = {r.g: r.weighted_median
               for r in FN.weighted_median_large(
                   df, ["g"], "v", "w", bucket_width=width,
                   weight_type="decimal(18,2)").collect()}
        assert got == want, (width, got, want)


def test_weighted_median_large_rejects_bad_width():
    import pytest as _pytest

    from nasctn_sea_ingest_spark import functions as FN
    with _pytest.raises(ValueError):
        FN.weighted_median_large(None, ["g"], "v", "w", bucket_width=0)


def test_sketch_rollup_merge_equals_direct(spark):
    """HLL sketch-union rollup: merging per-day sketches must give the
    SAME estimate as sketching the whole column directly (the mergeable
    property that lets a 100 TB warehouse keep per-partition sketches),
    and the estimate must sit within HLL(lgK=14) error of exact."""
    import pyspark.sql.functions as F
    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))
    from nasctn_sea_ingest_spark.plans import CORPUS, RETIRED
    # q124 retired from the driver corpus in round 14 (window slack);
    # this library-exactness check is part of what replaces its row
    q = next(q for q in CORPUS + RETIRED
             if q.name == "q124_sketch_rollup")
    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r.approx_users for r in q.spark(spark, sf).collect()}
    from nasctn_sea_ingest_spark.plans.tables import load_table
    ev = load_table(spark, sf, "events")
    direct = {r.event_type: r.d for r in
              ev.groupBy("event_type")
                .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
                      .cast("bigint").alias("d")).collect()}
    exact = {r.event_type: r.e for r in
             ev.groupBy("event_type")
               .agg(F.countDistinct("user_id").alias("e")).collect()}
    assert got == direct                       # merge path == direct path
    for k in exact:
        assert abs(got[k] - exact[k]) <= max(3, 0.05 * exact[k]), \
            (k, got[k], exact[k])


def test_keyed_lead_matches_naive_window(spark, sf_dir):
    """Slice-parallel keyed lead == plain Window.partitionBy lead, row for
    row (including series-end NULLs), on the events series."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark.functions import keyed_lead
    from nasctn_sea_ingest_spark.plans.tables import load_table

    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts_us", "event_id", "value")
    got = keyed_lead(ev, by=["event_type"], order=["ts_us", "event_id"],
                     cols=["ts_us", "event_id"])
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    want = ev.select(
        "event_type", "ts_us", "event_id", "value",
        F.lead("ts_us").over(w).alias("ts_us__next"),
        F.lead("event_id").over(w).alias("event_id__next"))
    key = ["event_type", "event_id"]
    diff = (got.select(*key, "ts_us__next", "event_id__next")
            .exceptAll(want.select(*key, "ts_us__next", "event_id__next")))
    assert diff.count() == 0
    assert got.count() == want.count()


def test_table_fingerprint_mergeable_and_order_free(spark):
    """Digest of the whole == merge of digests of disjoint parts (the
    O(delta) maintenance contract), independent of row order and
    partitioning; any single-cell mutation flips the digest."""
    rows = [(i, f"v{i % 7}", i * 3.5) for i in range(200)]
    schema = "id long, grp string, val double"
    full = spark.createDataFrame(rows, schema)
    shuffled = spark.createDataFrame(rows[::-1], schema).repartition(13)

    fp_full = {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
               for r in FN.table_fingerprint(
                   full, ["id", "grp", "val"], by=["grp"]).collect()}
    fp_shuf = {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
               for r in FN.table_fingerprint(
                   shuffled, ["id", "grp", "val"], by=["grp"]).collect()}
    assert fp_full == fp_shuf  # order/partitioning independence

    a = spark.createDataFrame(rows[:90], schema)
    b = spark.createDataFrame(rows[90:], schema)
    merged = {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
              for r in FN.merge_fingerprint(
                  FN.table_fingerprint(a, ["id", "grp", "val"], by=["grp"]),
                  FN.table_fingerprint(b, ["id", "grp", "val"], by=["grp"]),
                  by=["grp"]).collect()}
    assert merged == fp_full  # mergeability

    # sensitivity: one mutated cell changes that group's digest only
    mut = rows.copy()
    mut[17] = (17, rows[17][1], 999.25)
    fp_mut = {r.grp: (r.n_rows, r.fingerprint, r.mod_checksum)
              for r in FN.table_fingerprint(
                  spark.createDataFrame(mut, schema),
                  ["id", "grp", "val"], by=["grp"]).collect()}
    changed = {g for g in fp_full if fp_mut[g] != fp_full[g]}
    assert changed == {rows[17][1]}

    # global (no by): merge of two halves == whole, single row
    g_full = FN.table_fingerprint(full, ["id", "grp", "val"]).collect()[0]
    g_merge = FN.merge_fingerprint(
        FN.table_fingerprint(a, ["id", "grp", "val"]),
        FN.table_fingerprint(b, ["id", "grp", "val"])).collect()[0]
    assert (g_full.n_rows, g_full.fingerprint, g_full.mod_checksum) == \
        (g_merge.n_rows, g_merge.fingerprint, g_merge.mod_checksum)


def test_keyed_cumsum_matches_naive_window(spark, sf_dir):
    """Slice-parallel running sum == plain Window.partitionBy cumsum, row
    for row, on a unique-order-key daily aggregate of the events series
    (the keyed_cumsum tie precondition)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark.functions import keyed_cumsum
    from nasctn_sea_ingest_spark.plans.tables import load_table

    ev = (load_table(spark, sf_dir, "events")
          .groupBy("event_type", "ts_us")
          .agg(F.sum("value").cast("decimal(18,2)").alias("v")))
    got = keyed_cumsum(ev, by=["event_type"], order=["ts_us"], col="v",
                       out="run")
    w = (Window.partitionBy("event_type").orderBy("ts_us")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = ev.select("event_type", "ts_us", F.sum("v").over(w).alias("run"))
    key = ["event_type", "ts_us"]
    diff = (got.select(*key, "run")
            .exceptAll(want.select(*key, "run")))
    assert diff.count() == 0
    assert got.count() == want.count()


def test_table_fingerprint_null_and_delimiter_injective(spark):
    """Round-5 advisor: concat_ws dropped NULL columns, so NULL-shifted
    rows and delimiter-bearing splits collided.  The length-prefix
    canonicalization must distinguish all of them."""
    schema = "a string, b string, c string"

    def fp(rows):
        r = FN.table_fingerprint(
            spark.createDataFrame(rows, schema), ["a", "b", "c"]).collect()[0]
        return (r.n_rows, r.fingerprint, r.mod_checksum)

    # NULL-shift: ('a', NULL, 'b') vs ('a', 'b', NULL)
    assert fp([("a", None, "b")]) != fp([("a", "b", None)])
    # delimiter-bearing: ('a|b', 'c', ...) vs ('a', 'b|c', ...)
    assert fp([("a|b", "c", "x")]) != fp([("a", "b|c", "x")])
    # sentinel vs lookalike values: NULL vs 'N' vs empty string
    assert fp([("N", "x", "x")]) != fp([(None, "x", "x")])
    assert fp([("", "x", "x")]) != fp([(None, "x", "x")])
    # length prefix itself must not collide with prefix-bearing values
    assert fp([("1:a", "x", "x")]) != fp([("a", "x", "x")])


def test_pit_features_matches_bruteforce_range_join(spark, sf_dir):
    """Library point-in-time features (day-offset equi-join) == the
    brute-force range join, anchor for anchor, including zero-fill for
    anchors with no in-window events."""
    import pyspark.sql.functions as F

    from nasctn_sea_ingest_spark.functions import pit_features
    from nasctn_sea_ingest_spark.plans.tables import load_table

    day = "ts_us div 86400000000"
    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.where("event_type = 'click'")
              .groupBy("user_id", F.expr(day).alias("day"))
              .agg(F.count("*").alias("n"),
                   F.sum("value").cast("decimal(18,2)").alias("v")))
    anchors = (ev.where("event_type = 'purchase'")
               .select("event_id", "user_id", F.expr(day).alias("aday")))

    got = {r.event_id: (r.n7, float(r.v7) if r.v7 is not None else 0.0)
           for r in pit_features(
               anchors, clicks, keys=["user_id"], anchor_day="aday",
               event_day="day",
               aggs={"n7": F.sum("n").cast("bigint"),
                     "v7": F.coalesce(F.sum("v"),
                                      F.lit(0).cast("decimal(18,2)"))},
               window_days=7).collect()}

    brute = (anchors.join(
        clicks, (anchors.user_id == clicks.user_id)
        & (clicks.day >= anchors.aday - 7) & (clicks.day < anchors.aday),
        "left")
        .groupBy("event_id")
        .agg(F.sum("n").cast("bigint").alias("n7"),
             F.sum("v").alias("v7")))
    want = {r.event_id: (r.n7 if r.n7 is not None else None,
                         float(r.v7) if r.v7 is not None else 0.0)
            for r in brute.collect()}
    # pit_features leaves NULL n7 for no-event anchors (fill unset here)
    want = {k: (n, v) for k, (n, v) in want.items()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])
    assert any(n is None for n, _ in got.values())  # zero-event anchors exist


def test_keyed_cumsum_edge_shapes(spark):
    """Slice machinery edge cases: single-row groups, a key absent from
    the bounds sample, negative values, and decimal sums — all must
    match the naive window exactly."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark.functions import keyed_cumsum

    rnd = random.Random(11)
    rows = [("solo", 0, 5)]                       # single-row group
    rows += [("big", t, rnd.randint(-50, 50)) for t in range(500)]
    rows += [("tiny", t, rnd.randint(-5, 5)) for t in range(3)]
    df = spark.createDataFrame(rows, "k string, t long, v long") \
        .repartition(7)
    got = keyed_cumsum(df, ["k"], ["t"], "v", out="run")
    w = (Window.partitionBy("k").orderBy("t")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = df.select("k", "t", F.sum("v").over(w).alias("run"))
    assert (got.select("k", "t", "run")
            .exceptAll(want).count() == 0)
    assert got.count() == want.count()

    # decimal column type survives the slice/offset arithmetic
    dfd = df.withColumn("v", (F.col("v") / 4).cast("decimal(10,2)"))
    gotd = keyed_cumsum(dfd, ["k"], ["t"], "v", out="run")
    wantd = dfd.select("k", "t", F.sum("v").over(w).alias("run"))
    assert (gotd.select("k", "t", "run").exceptAll(wantd).count() == 0)


def test_skew_profile(spark):
    """skew_profile: exact top keys + shares on a zipf-ish table, and
    the max_share decision number that pairs with salted_agg."""
    from nasctn_sea_ingest_spark.functions import skew_profile
    rows = []
    for i, n in [("hot", 800), ("warm", 150), ("k3", 30), ("k4", 15),
                 ("k5", 5)]:
        rows += [(i, j) for j in range(n)]
    df = spark.createDataFrame(rows, "k string, v long").repartition(8)
    p = skew_profile(df, ["k"], top_k=3)
    assert p["n_rows"] == 1000 and p["n_keys"] == 5
    assert p["max"] == 800 and p["max_share"] == pytest.approx(0.8)
    assert [t[0] for t in p["top"]] == [("hot",), ("warm",), ("k3",)]
    assert p["top"][0][1] == 800
    assert p["top"][0][2] == pytest.approx(0.8)
    assert p["p50"] in (5, 15, 30)  # approx quantile of the count set
    # multi-key grouping works and returns tuple keys
    p2 = skew_profile(df, ["k", "v"], top_k=1)
    assert p2["n_keys"] == 1000 and p2["max"] == 1


def test_keyed_cummax_matches_naive_window(spark):
    """Slice-parallel running max (inclusive AND exclusive) == the plain
    Window.partitionBy forms, row for row, across single-row groups,
    keys absent from the bounds sample, and negative values."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark.functions import keyed_cummax

    rnd = random.Random(13)
    rows = [("solo", 0, 5)]
    rows += [("big", t, rnd.randint(-1000, 1000)) for t in range(500)]
    rows += [("tiny", t, rnd.randint(-5, 5)) for t in range(3)]
    df = spark.createDataFrame(rows, "k string, t long, v long") \
        .repartition(7)

    got_inc = keyed_cummax(df, ["k"], ["t"], "v", out="run")
    w_inc = (Window.partitionBy("k").orderBy("t")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want_inc = df.select("k", "t", F.max("v").over(w_inc).alias("run"))
    assert (got_inc.select("k", "t", "run")
            .exceptAll(want_inc).count() == 0)
    assert got_inc.count() == want_inc.count()

    # exclusive: NULL on each group's first row (the island-boundary
    # probe q158 uses), else max over strictly earlier rows
    got_exc = keyed_cummax(df, ["k"], ["t"], "v", out="run",
                           inclusive=False)
    w_exc = (Window.partitionBy("k").orderBy("t")
             .rowsBetween(Window.unboundedPreceding, -1))
    want_exc = df.select("k", "t", F.max("v").over(w_exc).alias("run"))
    assert (got_exc.select("k", "t", "run")
            .exceptAll(want_exc).count() == 0)
    assert got_exc.count() == want_exc.count()
    assert got_exc.where("t = 0 and run is not null").count() == 0


def test_keyed_scan_degenerate_order_domain(spark):
    """Few distinct order values vs many slices: the approx_percentile
    bounds repeat, bunching every row into a handful of slices — the
    two-phase prefix must still match the naive window exactly for both
    scan aggregates (sum and max, inclusive and exclusive frames)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nasctn_sea_ingest_spark.functions import keyed_cummax, \
        keyed_cumsum

    rows = [(f"k{k}", t, (k * 7 + t * 3) % 11 - 5)
            for k in range(10) for t in range(5)]
    df = spark.createDataFrame(rows, "k string, t long, v long") \
        .repartition(8)
    w = (Window.partitionBy("k").orderBy("t")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    got = keyed_cumsum(df, ["k"], ["t"], "v", out="o")
    want = df.select("k", "t", F.sum("v").over(w).alias("o"))
    assert got.select("k", "t", "o").exceptAll(want).count() == 0
    assert got.count() == want.count()
    gotm = keyed_cummax(df, ["k"], ["t"], "v", out="o")
    wantm = df.select("k", "t", F.max("v").over(w).alias("o"))
    assert gotm.select("k", "t", "o").exceptAll(wantm).count() == 0
    wx = (Window.partitionBy("k").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1))
    gotx = keyed_cummax(df, ["k"], ["t"], "v", out="o",
                        inclusive=False)
    wantx = df.select("k", "t", F.max("v").over(wx).alias("o"))
    # exceptAll treats NULL == NULL, so first-row NULLs compare fine
    assert gotx.select("k", "t", "o").exceptAll(wantx).count() == 0
    assert gotx.count() == wantx.count()


def test_fd_profile_matches_fd_error(spark, sf_dir):
    """The one-scan stack melt == per-candidate fd_error on every
    (n_rows, n_groups, violations, error) — the physical rewrite must
    not change a single count (string-form grouping is injective for
    the profiled scalar types)."""
    from nasctn_sea_ingest_spark.functions import fd_error, fd_profile
    from nasctn_sea_ingest_spark.plans.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    cands = [("o_orderkey", "o_orderstatus"),
             ("o_custkey", "o_orderstatus"),
             ("o_orderdate", "o_orderstatus"),
             ("o_orderpriority", "o_orderstatus")]
    prof = {(r.lhs, r.rhs): (r.n_rows, r.n_groups, r.violations, r.error)
            for r in fd_profile(o, cands).collect()}
    for lhs, rhs in cands:
        r = fd_error(o, lhs, rhs).first()
        assert prof[(lhs, rhs)] == (r.n_rows, r.n_groups,
                                    r.violations, r.error), (lhs, rhs)
    import pytest as _pt
    with _pt.raises(ValueError, match="at least one"):
        fd_profile(o, [])


def test_skew_survey_oracle_and_hints(spark, tmp_path):
    """skew_survey vs a pandas brute-force oracle over three key
    columns engineered to hit all three hint branches in one profile
    call, plus a NULL-key group, exact-percentile parity with numpy's
    linear interpolation, and the one-scan plan contract (one Expand,
    one parquet scan for J=3 profiled keys)."""
    import numpy as np
    import pandas as pd
    import pytest

    from nasctn_sea_ingest_spark.operators.quality import skew_survey

    rng = range(200)
    rows = []
    for i in rng:
        # a: 'hot' owns 120/200 = 0.6 > salt_share, 16 cold keys + NULL
        a = ("hot" if i < 120 else
             None if i < 136 else f"a{i % 16}")
        # b: max key 30/200 = 0.15 share, 170 singletons ->
        #    ratio = 30 * 171 / 200 = 25.65 > 10 -> aqe-skew-join
        b = "bhot" if i < 30 else f"b{i}"
        # c: uniform 10 x 20 -> ratio 1 -> hash-ok
        c = f"c{i % 10}"
        rows.append((a, b, c))
    pdf = pd.DataFrame(rows, columns=["a", "b", "c"])
    path = str(tmp_path / "skew.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    df = spark.read.parquet(path)

    prof = skew_survey(df, ["a", "b", "c"])
    got = {r.key_col: r.asDict() for r in prof.collect()}
    assert set(got) == {"a", "b", "c"}
    for col in ("a", "b", "c"):
        cnts = (pdf[col].value_counts(dropna=False)
                .to_numpy().astype(float))
        g = got[col]
        assert g["n_keys"] == len(cnts)
        assert g["total_rows"] == 200
        assert g["max_cnt"] == int(cnts.max())
        assert g["avg_cnt"] == pytest.approx(cnts.mean())
        assert g["p50_cnt"] == pytest.approx(
            np.percentile(cnts, 50, method="linear"))
        assert g["p99_cnt"] == pytest.approx(
            np.percentile(cnts, 99, method="linear"))
        assert g["top1_share"] == pytest.approx(cnts.max() / 200)
        assert g["skew_ratio"] == pytest.approx(
            cnts.max() * len(cnts) / 200)
    assert got["a"]["hint"] == "salt"
    assert got["b"]["hint"] == "aqe-skew-join"
    assert got["c"]["hint"] == "hash-ok"
    # NULL keys form their own counted group (the skew culprit most
    # profilers silently drop): 18 = hot + 16 cold + 1 NULL
    assert got["a"]["n_keys"] == 18

    # one-scan contract: J=3 keys profiled via ONE Expand over ONE scan
    # (AQE prints Final + Initial sections; lint the final plan only)
    plan = (prof._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1

    # approx mode returns the same shape with sane values
    ap = {r.key_col: r.asDict()
          for r in skew_survey(df, ["c"], exact=False).collect()}
    assert ap["c"]["hint"] == "hash-ok"
    assert ap["c"]["p50_cnt"] == pytest.approx(20.0, abs=1.0)

    with pytest.raises(ValueError, match="at least one key"):
        skew_survey(df, [])
    with pytest.raises(ValueError, match="out of"):
        skew_survey(df, ["a"], percentiles=(1.5,))


def test_skew_survey_composite_keys(spark):
    """Composite entries: ('a',) and ('a','b') profiled in the SAME
    call must not be confused (the exact-set grouping-flag match — an
    ('a','b') row has grouping(a)=0 too), labels follow the
    fd_discover 'a,b' string contract, and the composite's stats equal
    the brute-force pair-count distribution."""
    import numpy as np
    import pytest

    from nasctn_sea_ingest_spark.operators.quality import skew_survey

    rows = [(i % 3, i % 4) for i in range(120)]  # (a,b) has 12 combos
    df = spark.createDataFrame(rows, "a int, b int")
    prof = skew_survey(df, ["a", ("a", "b")])
    got = {r.key_col: r.asDict() for r in prof.collect()}
    assert set(got) == {"a", "a,b"}
    assert got["a"]["n_keys"] == 3
    assert got["a"]["max_cnt"] == 40
    assert got["a,b"]["n_keys"] == 12
    assert got["a,b"]["max_cnt"] == 10
    assert got["a,b"]["avg_cnt"] == pytest.approx(10.0)
    assert got["a,b"]["p99_cnt"] == pytest.approx(
        np.percentile([10.0] * 12, 99, method="linear"))
    assert got["a"]["hint"] == "salt"        # 40/120 = 0.33 > 0.2
    assert got["a,b"]["hint"] == "hash-ok"   # perfectly uniform

    with pytest.raises(ValueError, match="duplicate key entry"):
        skew_survey(df, ["a", ("a",)])
    with pytest.raises(ValueError, match="empty composite"):
        skew_survey(df, ["a", ()])
    # set-wise duplicate: same grouping set computed twice would
    # double the first label's rows
    with pytest.raises(ValueError, match="duplicate key entry"):
        skew_survey(df, [("a", "b"), ("b", "a")])


def test_skew_survey_percentile_labels_and_gate(spark):
    """r12 ADVICE: percentile labels carry the full decimal (0.995 and
    1.0 used to both round to p100_cnt; 0.115/0.125 both to p12_cnt
    under banker's rounding), empty percentiles raise instead of
    failing analysis, and the exact-percentile cardinality pre-gate
    (verdict stretch #9) auto-switches to approx above the limit."""
    import numpy as np
    import pytest

    from nasctn_sea_ingest_spark.operators.quality import (
        _percentile_label, skew_survey)

    assert _percentile_label(0.5) == "p50_cnt"
    assert _percentile_label(0.99) == "p99_cnt"
    assert _percentile_label(0.995) == "p99_5_cnt"
    assert _percentile_label(1.0) == "p100_cnt"
    assert _percentile_label(0.115) == "p11_5_cnt"
    assert _percentile_label(0.125) == "p12_5_cnt"
    assert _percentile_label(0.05) == "p05_cnt"  # legacy zero-pad

    rows = [(i % 7, i) for i in range(140)]
    df = spark.createDataFrame(rows, "a int, b int")
    prof = skew_survey(df, ["a"], percentiles=(0.995, 1.0, 0.115))
    assert {"p99_5_cnt", "p100_cnt", "p11_5_cnt"} <= set(prof.columns)
    g = prof.first().asDict()
    cnts = [20.0] * 7
    assert g["p100_cnt"] == pytest.approx(
        np.percentile(cnts, 100, method="linear"))
    assert g["p99_5_cnt"] == pytest.approx(
        np.percentile(cnts, 99.5, method="linear"))

    with pytest.raises(ValueError, match="at least one percentile"):
        skew_survey(df, ["a"], percentiles=())

    # auto-gate: 'b' has 140 distinct values > a tiny exact_key_limit,
    # so the survey must flip to approx_percentile — visible in the
    # plan (no exact `percentile(` call) while values stay sane
    prof2 = skew_survey(df, ["b"], percentiles=(0.5,),
                        exact=True, exact_key_limit=50)
    plan = prof2._jdf.queryExecution().analyzed().toString()
    assert "approx_percentile" in plan
    r2 = prof2.first()
    assert r2.n_keys == 140 and r2.max_cnt == 1
    # under the limit the exact path is kept
    prof3 = skew_survey(df, ["a"], percentiles=(0.5,),
                        exact=True, exact_key_limit=50)
    assert "approx_percentile" not in \
        prof3._jdf.queryExecution().analyzed().toString()
    # gate disabled: trusts the caller even above the limit
    prof4 = skew_survey(df, ["b"], percentiles=(0.5,),
                        exact=True, exact_key_limit=None)
    assert "approx_percentile" not in \
        prof4._jdf.queryExecution().analyzed().toString()


def test_skew_counts_sentinel_escaping(spark):
    """r13 ADVICE: a string value that legitimately contains the NULL
    sentinel ("\\x00NULL") or the composite separator (\\x1f) must not
    conflate with NULL / with a differently-split composite tuple —
    the escape scheme keeps key_val injective, and skew_report over
    the counts still matches skew_survey on such data."""
    from nasctn_sea_ingest_spark.operators.quality import (
        skew_counts, skew_report, skew_survey)

    rows = [("\x00NULL",), (None,), (None,), ("a\x1fb",),
            ("\x00NULL",), ("\x00NULL",)]
    df = spark.createDataFrame(rows, "a string")
    counts = skew_counts(df, ["a"]).collect()
    assert len(counts) == 3                      # 3 distinct groups
    by_cnt = sorted(r.cnt for r in counts)
    assert by_cnt == [1, 2, 3]                   # a\x1fb, NULL, lit

    # composite split ambiguity: ("x\x1f","y") vs ("x","\x1fy")
    df2 = spark.createDataFrame([("x\x1f", "y"), ("x", "\x1fy")],
                                "a string, b string")
    assert skew_counts(df2, [("a", "b")]).count() == 2

    # report==survey parity survives the nasty values
    want = {r.key_col: r.asDict() for r in skew_survey(df, ["a"]).collect()}
    got = {r.key_col: r.asDict() for r in
           skew_report(skew_counts(df, ["a"])).collect()}
    assert got == want
