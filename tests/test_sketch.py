"""Mergeable sketch family: Count-Min frequency estimates and the
deterministic compactor quantile sketch (operators/sketch.py).

Correctness strategy (no SQL oracle exists for sketches — this suite IS
the hard signal, like the ANN recall and PQ error-bound tests):
  * Count-Min: one-sided error (est >= true ALWAYS — a property of the
    structure, asserted exactly), additive bound est - true <= eps*N,
    exact merge semantics (sketching A then B == sketching A union B,
    cell-identical), never-seen items estimate ~0 through the left join.
  * Quantile sketch: exact while n <= k; rank-error bound on large
    adversarial (sorted / skewed) inputs; merge == bulk within bound;
    distributed == local bound; SQL expr reads equal the Python object;
    grouped sketches match per-key exact quantiles within bound;
    incremental merge_sketch_rows == resketching from scratch (bound).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nasctn_sea_ingest_spark.operators.sketch import (
    QuantileSketch, cm_lookup, cm_merge, cm_sketch,
    grouped_quantile_sketch, merge_sketch_rows, quantile_sketch,
    sketch_quantile_expr, sketch_rank_expr)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def zipf_events(spark):
    # Zipf-ish key frequencies: key i appears ~ 3000/i times.
    rows = []
    for i in range(1, 60):
        rows.extend([(f"key{i}",)] * (3000 // i))
    return spark.createDataFrame(rows, "item string"), {
        f"key{i}": 3000 // i for i in range(1, 60)}


def test_cm_overestimates_never_under(spark, zipf_events):
    df, truth = zipf_events
    sk = cm_sketch(df, "item", depth=5, width=512)
    q = spark.createDataFrame([(k,) for k in truth], "item string")
    est = {r.item: r.cm_estimate
           for r in cm_lookup(sk, q, "item", depth=5, width=512).collect()}
    n = sum(truth.values())
    eps = np.e / 512
    for k, true in truth.items():
        assert est[k] >= true, f"CM underestimated {k}"
        assert est[k] <= true + eps * n * 3, \
            f"CM error for {k}: {est[k]} vs {true} (N={n})"


def test_cm_unseen_items_near_zero(spark, zipf_events):
    df, truth = zipf_events
    sk = cm_sketch(df, "item", depth=5, width=2048)
    q = spark.createDataFrame([(f"ghost{i}",) for i in range(20)],
                              "item string")
    est = cm_lookup(sk, q, "item", depth=5, width=2048).collect()
    n = sum(truth.values())
    # Never-seen items must not be dropped (left join) and estimate
    # within the additive bound of zero.
    assert len(est) == 20
    for r in est:
        assert 0 <= r.cm_estimate <= (np.e / 2048) * n * 3


def test_cm_merge_equals_union(spark, zipf_events):
    df, _ = zipf_events
    a = df.where(F.xxhash64("item") % 2 == 0)
    b = df.where(F.xxhash64("item") % 2 != 0)
    merged = cm_merge(cm_sketch(a, "item", 4, 256),
                      cm_sketch(b, "item", 4, 256))
    whole = cm_sketch(df, "item", 4, 256)
    diff = (merged.withColumnRenamed("count", "m")
            .join(whole.withColumnRenamed("count", "w"),
                  ["depth", "bucket"], "full")
            .where(F.coalesce("m", F.lit(-1)) !=
                   F.coalesce("w", F.lit(-1))))
    assert diff.count() == 0  # cell-identical


def test_cm_weighted(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 7)], "item string, w long")
    sk = cm_sketch(df, "item", depth=4, width=1024, weight_col="w")
    q = spark.createDataFrame([("a",), ("b",)], "item string")
    est = {r.item: r.cm_estimate
           for r in cm_lookup(sk, q, "item", 4, 1024).collect()}
    assert est["a"] >= 15 and est["b"] >= 7


# ---------------------------------------------------------------------------
# QuantileSketch — local object
# ---------------------------------------------------------------------------

def _true_rank(data, x):
    return int(np.sum(np.asarray(data) <= x))


def test_qsketch_exact_when_small():
    data = np.random.RandomState(0).uniform(0, 1, 150)
    sk = QuantileSketch(k=200).update_batch(data)
    for q in (0.0, 0.1, 0.5, 0.9, 1.0):
        exact = np.sort(data)[min(len(data) - 1,
                                  max(0, int(np.ceil(q * len(data))) - 1))]
        assert sk.quantile(q) == pytest.approx(exact)


@pytest.mark.parametrize("gen", [
    lambda r: r.uniform(0, 1, 60_000),
    lambda r: np.sort(r.uniform(0, 1, 60_000)),        # sorted arrival
    lambda r: r.lognormal(0, 2, 60_000),               # heavy skew
])
def test_qsketch_rank_error_bound(gen):
    r = np.random.RandomState(7)
    data = gen(r)
    k = 200
    sk = QuantileSketch(k=k)
    for chunk in np.array_split(data, 13):
        sk.update_batch(chunk)
    assert sk.n == len(data)
    # Deterministic compactor bound: additive rank error
    # O(n log2(n/k) / k); assert with constant 2.
    eps = 2.0 * np.log2(len(data) / k) / k
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = sk.quantile(q)
        err = abs(_true_rank(data, est) - q * len(data))
        assert err <= eps * len(data) + 1, f"q={q}: rank err {err}"


def test_qsketch_deterministic_and_merge_bound():
    r = np.random.RandomState(3)
    data = r.normal(0, 1, 40_000)
    a = QuantileSketch(64).update_batch(data)
    b = QuantileSketch(64).update_batch(data)
    assert a.quantile(0.5) == b.quantile(0.5)  # same order → bit-equal
    # merge of halves obeys the combined bound
    m = QuantileSketch(64).update_batch(data[:20_000]).merge(
        QuantileSketch(64).update_batch(data[20_000:]))
    assert m.n == len(data)
    eps = 2.0 * np.log2(len(data) / 64) / 64
    for q in (0.1, 0.5, 0.9):
        err = abs(_true_rank(data, m.quantile(q)) - q * len(data))
        assert err <= eps * len(data) + 1


def test_qsketch_array_round_trip():
    data = np.random.RandomState(1).uniform(0, 10, 5_000)
    sk = QuantileSketch(100).update_batch(data)
    vals, wts = sk.to_arrays()
    assert vals == sorted(vals)
    assert sum(wts) == sk.n
    back = QuantileSketch.from_arrays(vals, wts, 100)
    assert back.n == sk.n
    assert back.quantile(0.5) == sk.quantile(0.5)
    with pytest.raises(ValueError):
        QuantileSketch.from_arrays([1.0], [3], 100)  # non-power-of-2


# ---------------------------------------------------------------------------
# Distributed paths
# ---------------------------------------------------------------------------

def test_quantile_sketch_distributed(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = quantile_sketch(li, "l_extendedprice", k=200)
    exact = li.select(F.expr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("m")).collect()[0].m
    n = li.count()
    assert sk.n == n
    est = sk.quantile(0.5)
    rank = li.where(F.col("l_extendedprice") <= est).count()
    eps = 2.0 * np.log2(max(2.0, n / 200)) / 200
    assert abs(rank - 0.5 * n) <= eps * n + 1
    # sanity vs exact median value scale
    assert est == pytest.approx(exact, rel=0.05)


def test_grouped_quantile_sketch_and_sql_expr(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    per_key = grouped_quantile_sketch(
        li, ["l_returnflag"], "l_quantity", k=200).persist()
    try:
        got = per_key.select(
            "l_returnflag", "n",
            sketch_quantile_expr("values", "weights", 0.5).alias("med"),
            sketch_rank_expr("values", "weights", 25.0).alias("r25"),
        ).collect()
        exact = {r.l_returnflag: (r.m, r.n, r.r25) for r in li.groupBy(
            "l_returnflag").agg(
            F.expr("percentile_cont(0.5) WITHIN GROUP "
                   "(ORDER BY l_quantity)").alias("m"),
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_quantity") <= 25.0, 1)
                  .otherwise(0)).alias("r25")).collect()}
        rows = {r["l_returnflag"]: r for r in per_key.collect()}
        for r in got:
            m, n, r25 = exact[r.l_returnflag]
            assert r.n == n
            eps_n = (2.0 * np.log2(max(2.0, n / 200)) / 200) * n + 1
            # SQL expr must equal the Python object's answer exactly
            py = QuantileSketch.from_arrays(
                rows[r.l_returnflag]["values"],
                rows[r.l_returnflag]["weights"], 200)
            assert r.med == pytest.approx(py.quantile(0.5))
            assert r.r25 == py.rank(25.0)
            # and be near the exact per-key median by rank
            rank = li.where((F.col("l_returnflag") == r.l_returnflag) &
                            (F.col("l_quantity") <= r.med)).count()
            assert abs(rank - 0.5 * n) <= eps_n
    finally:
        per_key.unpersist()


def test_merge_sketch_rows_incremental(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    old = li.where(F.col("l_orderkey") % 4 != 0)
    new = li.where(F.col("l_orderkey") % 4 == 0)
    inc = merge_sketch_rows(
        grouped_quantile_sketch(old, ["l_linestatus"], "l_quantity"),
        grouped_quantile_sketch(new, ["l_linestatus"], "l_quantity"),
        ["l_linestatus"])
    full_n = {r.l_linestatus: r.n for r in li.groupBy("l_linestatus")
              .agg(F.count("*").alias("n")).collect()}
    got = inc.select("l_linestatus", "n",
                     sketch_quantile_expr("values", "weights", 0.5)
                     .alias("med")).collect()
    for r in got:
        n = full_n[r.l_linestatus]
        assert r.n == n  # counts conserve exactly through the merge
        rank = li.where((F.col("l_linestatus") == r.l_linestatus) &
                        (F.col("l_quantity") <= r.med)).count()
        eps_n = (2.0 * np.log2(max(2.0, n / 200)) / 200) * n + 1
        assert abs(rank - 0.5 * n) <= eps_n


def test_qsketch_state_bound():
    """The 100TB claim is the STATE BOUND: retained values never exceed
    k per level over ~log2(n/k) live levels (+1 odd straggler each), no
    matter the input size or order. 1M adversarial (sorted) inserts stay
    under the bound; so does a merge of 16 shard sketches."""
    k = 128
    n = 1_000_000
    sk = QuantileSketch(k)
    data = np.arange(n, dtype=np.float64)  # sorted = worst arrival order
    for chunk in np.array_split(data, 64):
        sk.update_batch(chunk)
    levels = int(np.ceil(np.log2(n / k))) + 2
    bound = (k + 1) * levels
    assert len(sk.to_arrays()[0]) <= bound
    assert sk.n == n
    merged = QuantileSketch(k)
    for part in np.array_split(data, 16):
        merged.merge(QuantileSketch(k).update_batch(part))
    assert len(merged.to_arrays()[0]) <= bound
    assert merged.n == n


# ---------------------------------------------------------------------------
# PSI drift from sketch pairs
# ---------------------------------------------------------------------------

def _psi_exact(a, b, bins=10, eps=1e-4):
    edges = np.quantile(np.asarray(a), [i / bins for i in range(1, bins)])
    ca, _ = np.histogram(a, [-np.inf, *edges, np.inf])
    cb, _ = np.histogram(b, [-np.inf, *edges, np.inf])
    pa = np.maximum(ca / len(a), eps)
    pb = np.maximum(cb / len(b), eps)
    return float(np.sum((pa - pb) * np.log(pa / pb)))


def test_psi_same_vs_shifted():
    from nasctn_sea_ingest_spark.operators.sketch import psi
    r = np.random.RandomState(5)
    base = r.normal(0, 1, 50_000)
    same = r.normal(0, 1, 50_000)
    shifted = r.normal(1.2, 1, 50_000)
    sb = QuantileSketch(256).update_batch(base)
    ss = QuantileSketch(256).update_batch(same)
    sh = QuantileSketch(256).update_batch(shifted)
    p_same = psi(sb, ss)
    p_shift = psi(sb, sh)
    assert p_same < 0.02                      # stable
    assert p_shift > 0.25                     # clearly shifted
    # sketch PSI tracks the exact-data PSI
    assert p_shift == pytest.approx(_psi_exact(base, shifted), abs=0.1)
    assert p_same == pytest.approx(_psi_exact(base, same), abs=0.02)


def test_drift_profile_distributed(spark, sf_dir):
    from nasctn_sea_ingest_spark.operators.sketch import drift_profile
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)   # same distribution
    c = li.withColumn("l_extendedprice",
                      F.col("l_extendedprice") * 2)  # shifted
    stable = drift_profile(a, b, ["l_extendedprice", "l_quantity"])
    assert all(v < 0.05 for v in stable.values()), stable
    moved = drift_profile(a, c.where(F.col("l_orderkey") % 2 == 1),
                          ["l_extendedprice"])
    assert moved["l_extendedprice"] > 0.25


from hypothesis import given as _given, settings as _settings, \
    strategies as _st


@_settings(max_examples=40, deadline=None)
@_given(seed=_st.integers(0, 2**31 - 1),
        n=_st.integers(1, 4000),
        n_parts=_st.integers(1, 7),
        k=_st.sampled_from([16, 64, 128]))
def test_qsketch_merge_bound_property(seed, n, n_parts, k):
    """For ANY data, ANY split into parts, ANY k: merged shard sketches
    conserve n exactly and meet the rank-error bound at every decile —
    the property 1000 executors rely on."""
    r = np.random.RandomState(seed)
    data = r.lognormal(0, 1.5, n)
    parts = np.array_split(data, min(n_parts, n))
    m = QuantileSketch(k)
    for p in parts:
        if len(p):
            m.merge(QuantileSketch(k).update_batch(p))
    assert m.n == n
    vals, wts = m.to_arrays()
    assert sum(wts) == n
    eps = 2.0 * np.log2(max(2.0, n / k)) / k
    for q in (0.1, 0.5, 0.9):
        est = m.quantile(q)
        err = abs(int(np.sum(data <= est)) - q * n)
        assert err <= eps * n + 1


def test_from_arrays_rejects_misaligned():
    with pytest.raises(ValueError, match="misaligned"):
        QuantileSketch.from_arrays([1.0, 2.0], [1], 64)


def test_psi_table_per_key(spark, sf_dir):
    """Per-key PSI over two grouped sketch tables: same-distribution
    splits score near zero; a doubled-value key scores high; the result
    equals the Python psi() on the same stored arrays; one-sided keys
    drop."""
    from nasctn_sea_ingest_spark.operators.sketch import psi, psi_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    base = grouped_quantile_sketch(
        li.where(F.col("l_orderkey") % 2 == 0),
        ["l_returnflag"], "l_extendedprice").persist()
    same = grouped_quantile_sketch(
        li.where(F.col("l_orderkey") % 2 == 1),
        ["l_returnflag"], "l_extendedprice")
    moved = grouped_quantile_sketch(
        li.where(F.col("l_orderkey") % 2 == 1)
          .withColumn("l_extendedprice", F.col("l_extendedprice") * 3),
        ["l_returnflag"], "l_extendedprice")
    try:
        stable = {r.l_returnflag: r.psi
                  for r in psi_table(same, base,
                                     ["l_returnflag"]).collect()}
        assert stable and all(v < 0.05 for v in stable.values()), stable
        shifted = {r.l_returnflag: r.psi
                   for r in psi_table(moved, base,
                                      ["l_returnflag"]).collect()}
        assert all(v > 0.25 for v in shifted.values()), shifted
        # parity with the local psi() on the same stored rows
        brow = {r["l_returnflag"]: r for r in base.collect()}
        crow = {r["l_returnflag"]: r for r in same.collect()}
        for kf, want in stable.items():
            sb = QuantileSketch.from_arrays(
                brow[kf]["values"], brow[kf]["weights"])
            sc = QuantileSketch.from_arrays(
                crow[kf]["values"], crow[kf]["weights"])
            assert want == pytest.approx(psi(sb, sc), rel=1e-12)
        # one-sided key drops
        extra = spark.createDataFrame(
            [("ZZ", [1.0], [1], 1)],
            "l_returnflag string, values array<double>, "
            "weights array<long>, n long")
        out = psi_table(same.unionByName(extra), base, ["l_returnflag"])
        assert "ZZ" not in {r.l_returnflag for r in out.collect()}
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k_and_bounded_error_above(spark):
    """A group with < k distinct values sketches EXACTLY; a 50k-distinct
    group estimates within ~4/sqrt(k-2) relative error."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators.sketch import (
        kmv_estimate_expr, kmv_sketch)

    k = 256
    small = spark.range(100).select(F.lit("s").alias("g"),
                                    (F.col("id") % 37).alias("v"))
    big = spark.range(150000).select(F.lit("b").alias("g"),
                                     (F.col("id") % 50000).alias("v"))
    sk = kmv_sketch(small.unionByName(big), ["g"], "v", k=k)
    est = {r.g: r.est for r in sk.select(
        "g", kmv_estimate_expr("kmv", k).alias("est")).collect()}
    assert est["s"] == 37.0                       # exact below k
    assert abs(est["b"] - 50000) / 50000 < 4 / (k - 2) ** 0.5


def test_kmv_merge_equals_sketch_of_union(spark):
    """merge(kmv(A), kmv(B)) is ELEMENT-IDENTICAL to kmv(A ∪ B): the k
    smallest of a union are the k smallest of the parts' k-smallest —
    exact sketch algebra, like cm_merge's cell identity.  One-sided
    keys pass through."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators.sketch import (
        kmv_sketch, merge_kmv_rows)

    k = 64
    a = spark.range(3000).select((F.col("id") % 3).cast("string").alias("g"),
                                 F.col("id").alias("v"))
    b = spark.range(2000, 7000).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("v"))
    merged = {r.g: r.kmv for r in merge_kmv_rows(
        kmv_sketch(a, ["g"], "v", k), kmv_sketch(b, ["g"], "v", k),
        ["g"], k).collect()}
    direct = {r.g: r.kmv for r in kmv_sketch(
        a.unionByName(b), ["g"], "v", k).collect()}
    assert set(merged) == {"0", "1", "2"}
    for g in ("0", "1"):
        assert merged[g] == direct[g], g          # element-identical
    # g=2 exists only in a: pass-through
    assert merged["2"] == {r.g: r.kmv for r in kmv_sketch(
        a, ["g"], "v", k).collect()}["2"]


def test_kmv_jaccard_tracks_planted_overlap(spark):
    """Two 20k-value sets with 50% planted overlap: the theta-sketch
    Jaccard estimate lands near 1/3 (|A∩B|/|A∪B| = 10k/30k) and the
    intersection estimate (jaccard x union estimate) near 10k."""
    import pyspark.sql.functions as F
    from nasctn_sea_ingest_spark.operators.sketch import (
        kmv_estimate_expr, kmv_jaccard_expr, kmv_sketch,
        merge_kmv_rows)

    k = 512
    a = spark.range(20000).select(F.lit("x").alias("g"),
                                  F.col("id").alias("v"))
    b = spark.range(10000, 30000).select(F.lit("x").alias("g"),
                                         F.col("id").alias("v"))
    sa = kmv_sketch(a, ["g"], "v", k).select(
        "g", F.col("kmv").alias("ka"))
    sb = kmv_sketch(b, ["g"], "v", k).select(
        "g", F.col("kmv").alias("kb"))
    row = (sa.join(sb, "g")
           .select(kmv_jaccard_expr("ka", "kb", k).alias("j"))
           .first())
    assert abs(row.j - 1 / 3) < 0.06, row.j
    union_est = merge_kmv_rows(
        kmv_sketch(a, ["g"], "v", k), kmv_sketch(b, ["g"], "v", k),
        ["g"], k).select(kmv_estimate_expr("kmv", k).alias("e")).first().e
    inter_est = row.j * union_est
    assert abs(inter_est - 10000) / 10000 < 0.2, inter_est


def test_grouped_sketch_builds_without_warnings(spark):
    """Both grouped-map functions are fully annotated, so pyspark infers
    their eval type instead of warning on every build."""
    import warnings

    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        per_key = grouped_quantile_sketch(df, ["k"], "v")
        merge_sketch_rows(per_key, per_key, ["k"])
