"""Reusable query helpers (SURVEY.md §7 step 5): trace selection, exact
array statistics, dB-domain math, as-of joins, per-group limiting, gap
detection, pivots, axis synthesis.

Everything here is a *Column expression* or a composition of stock DataFrame
operators — JVM-side, no Python UDFs — so the same helpers hold at 100 TB:
array statistics run per-row inside the scan stage (no shuffle), the as-of
join is one shuffle + two window passes, and the limiter reuses one grouping.

The array statistics use Spark built-ins where one exists: the upcast is a
cast, the quantile sort is ``sort_array``. Spark evaluates a higher-order
lambda interpreted, once per element it visits, and these helpers still
run one per element: ``array_mean``, ``array_mean_db`` and ``array_sum_db``
(the ``aggregate`` fold) and ``array_midmean``'s band filter and fold.
``_let`` runs one per row; what it binds is evaluated interpreted too.

Reference parity notes cite `/root/reference/` via SURVEY.md §2 operator ids.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "db_to_power", "power_to_db", "db_to_env", "env_to_db",
    "array_double", "array_mean", "array_median", "array_quantile",
    "array_midmean", "array_mean_db", "array_sum_db", "array_roll",
    "axis_x", "explode_trace", "trace", "asof_join", "register_asof_view",
    "interval_join", "limiter",
    "time_gaps", "pivot_wide", "localize", "rayleigh_amplitude",
    "noise_floor_dBm", "salted_agg", "exact_median_large",
    "weighted_median_large", "zorder_key",
    "merge_upsert", "snapshot_diff", "keyed_lead", "keyed_cumsum",
    "keyed_cummax",
    "pit_features", "table_fingerprint", "merge_fingerprint",
    "skew_profile", "fd_error", "fd_profile", "fd_counts",
    "fd_errors_from_counts", "fd_discover",
]


# --------------------------------------------------------------------------
# dB ↔ linear (F4; 3gpp cell 0)
# --------------------------------------------------------------------------

def db_to_power(col) -> Column:
    return F.pow(F.lit(10.0), F.col(col) / 10.0 if isinstance(col, str) else col / 10.0)


def power_to_db(col) -> Column:
    return 10.0 * F.log10(F.col(col) if isinstance(col, str) else col)


def db_to_env(col) -> Column:
    return F.pow(F.lit(10.0), F.col(col) / 20.0 if isinstance(col, str) else col / 20.0)


def env_to_db(col) -> Column:
    return 20.0 * F.log10(F.col(col) if isinstance(col, str) else col)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# exact array statistics over the trace axis (A1-A5; axis=1 semantics)
# --------------------------------------------------------------------------

def array_double(col) -> Column:
    """Upcast ARRAY<FLOAT> to ARRAY<DOUBLE> (float32 analytics upcast, F9)."""
    return _c(col).cast("array<double>")


def _let(value: Column, body) -> Column:
    """Bind ``value`` once and evaluate ``body(bound)`` — SQL has no let
    expression, and Catalyst re-evaluates a sub-expression once PER
    REFERENCE (and per ELEMENT when referenced inside a higher-order
    lambda): the original midmean cost ~2n array sorts per row through
    its filter predicate. A one-element ``transform`` materializes the
    value into the lambda variable, making every reference a lookup.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def _array_sort(v: Column) -> Column:
    """``F.array_sort(v)`` — ascending, NaN above every number, nulls
    last, equal elements (0.0 and -0.0) in input order — without the
    comparator lambda Spark evaluates for every comparison.
    ``sort_array`` puts the k nulls first, so there are none when its
    first element is not null; otherwise they move to the end (the first
    non-null is the minimum; an all-null array stays as it is). The sort
    stays under ``_let``, which Spark evaluates interpreted, as the stable
    comparator sort: code generated, ``sort_array`` takes a primitive sort
    on a null-free array that orders -0.0 before 0.0."""
    def nulls_last(s):
        k = F.coalesce(F.array_position(s, F.array_min(s)) - 1, F.lit(0))
        return F.when(F.get(s, 0).isNotNull(), s).otherwise(
            F.concat(F.slice(s, k + 1, F.size(s) - k), F.slice(s, 1, k)))
    return _let(F.sort_array(v), nulls_last)


def _sorted_quantile(vv: Column, q: float) -> Column:
    """Interpolated quantile of an already-sorted bound array variable;
    NULL for an empty array."""
    n = F.size(vv)
    h = (n - 1).cast("double") * F.lit(float(q))
    lo_i = F.floor(h).cast("int")
    frac = h - F.floor(h)
    lo = F.element_at(vv, lo_i + 1)
    hi = F.element_at(vv, F.least(lo_i + 2, n))
    return F.when(n > 0, lo + frac * (hi - lo))


def array_mean(col) -> Column:
    """Arithmetic mean over the array (linear domain); NULL for an empty
    array, as for a NULL array."""
    return _let(array_double(col),
                lambda v: F.when(
                    F.size(v) > 0,
                    F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
                    / F.size(v)))


def array_quantile(col, q: float) -> Column:
    """Exact linear-interpolated quantile over the array values — the
    pandas/numpy ``quantile(q, axis=1)`` semantics (A4, 3gpp cell 3):
    h = (n-1)q; v[floor h] + (h - floor h) * (v[floor h + 1] - v[floor h]).
    The sort is bound once per row (not once per reference). An empty
    array gives NULL, as a NULL array does.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be in [0, 1]")
    return _let(_array_sort(array_double(col)),
                lambda vv: _sorted_quantile(vv, q))


def array_median(col) -> Column:
    """Exact median over the array (A1: ``median(axis=1)``)."""
    return array_quantile(col, 0.5)


def array_midmean(col, lo: float = 0.25, hi: float = 0.75) -> Column:
    """Trimmed mean of values between exact quantiles [lo, hi] inclusive
    (A5 ``midmean``, 3gpp cell 4). One sort per row: the sorted array,
    the quantile pair, and the filtered band are each let-bound (the
    naive form re-sorted inside the filter predicate per element)."""
    def body(vv):
        pair = F.struct(_sorted_quantile(vv, lo).alias("lo"),
                        _sorted_quantile(vv, hi).alias("hi"))
        return _let(pair, lambda p: _let(
            F.filter(vv, lambda x: (x >= p["lo"]) & (x <= p["hi"])),
            # tiny arrays can have nothing inside the band → NULL
            lambda kept: F.when(
                F.size(kept) > 0,
                F.aggregate(kept, F.lit(0.0), lambda a, x: a + x)
                / F.size(kept))))
    return _let(_array_sort(array_double(col)), body)


def array_mean_db(col) -> Column:
    """Mean over the array computed in linear power, reported in dB
    (A3: ``dBtopow → mean(axis=1) → powtodB``); NULL for an empty array,
    as for a NULL array."""
    def body(v):
        lin_sum = F.aggregate(v, F.lit(0.0),
                              lambda a, x: a + F.pow(F.lit(10.0), x / 10.0))
        return F.when(F.size(v) > 0, 10.0 * F.log10(lin_sum / F.size(v)))
    return _let(array_double(col), body)


def array_sum_db(col) -> Column:
    """dB-domain sum (A8 ``dbsum``)."""
    v = array_double(col)
    lin_sum = F.aggregate(v, F.lit(0.0),
                          lambda a, x: a + F.pow(F.lit(10.0), x / 10.0))
    return 10.0 * F.log10(lin_sum)


def array_roll(values, shift) -> Column:
    """Circular roll of an array column by a per-row shift (W4, 3gpp
    ``roll``): positive shift moves ``values[shift]`` to position 0."""
    v, s = _c(values), _c(shift)
    n = F.size(v)
    k = ((s % n) + n) % n  # normalize negative shifts
    return F.when(k == 0, v).otherwise(
        F.concat(F.slice(v, k + 1, n - k), F.slice(v, F.lit(1), k)))


# --------------------------------------------------------------------------
# axis synthesis + explode (F10, R5)
# --------------------------------------------------------------------------

def axis_x(bin_col, x_start="x_start", x_step="x_step") -> Column:
    """Physical x value for a bin index: x_start + bin * x_step."""
    return _c(x_start) + _c(bin_col).cast("double") * _c(x_step)


def explode_trace(df: DataFrame, values: str = "values",
                  keep: Sequence[str] | None = None) -> DataFrame:
    """Long/exploded view of a trace table: one row per (capture, bin) with
    the physical axis value (R5 — 'the workhorse view').

    Keeps ``keep`` columns (default: everything except the array/axis
    columns), adds ``bin`` INT, ``x`` DOUBLE, ``value`` FLOAT.
    """
    if keep is None:
        keep = [c for c in df.columns if c not in (values, "x_start", "x_step")]
    out = df.select(*keep, "x_start", "x_step",
                    F.posexplode(values).alias("bin", "value"))
    return out.withColumn("x", axis_x("bin")).drop("x_start", "x_step")


# --------------------------------------------------------------------------
# trace() selector (P1, util.py:97-128 parity)
# --------------------------------------------------------------------------

def trace(products, table: str | None = None,
          columns: str | Sequence[str] | None = None, **levels) -> DataFrame:
    """Select a table and cross-section it on key values.

    ``trace(tables, "pfp", frequency=3.555e9, detector="rms")`` ≡ the
    reference's ``trace()``: pick the table, apply one ``WHERE`` per named
    level, optionally project columns (key columns are always kept).
    ``products`` is a dict of DataFrames or a single DataFrame.
    """
    df = products[table] if isinstance(products, dict) else products
    if not isinstance(products, dict) and table is not None and "table" in df.columns:
        df = df.where(F.col("table") == table).drop("table")
    for k, v in levels.items():
        df = df.where(F.col(k) == v)
    if columns is not None:
        if isinstance(columns, str):
            columns = [columns]
        keys = [c for c in ("datetime", "frequency") if c in df.columns]
        cols = keys + [c for c in columns if c not in keys]
        df = df.select(*cols)
    return df


# --------------------------------------------------------------------------
# as-of join (J1 — bidirectional nearest, plots.py:76-77 get_indexer parity)
# --------------------------------------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: Sequence[str] | None = None,
              direction: str = "nearest",
              tolerance=None,
              right_cols: Sequence[str] | None = None,
              suffix: str = "_right") -> DataFrame:
    """Align each left row with the nearest right row on ``on`` (numeric or
    timestamp), optionally within ``by`` groups.

    ``direction``: 'nearest' (bidirectional — pandas ``get_indexer(method=
    'nearest')``, the reference's semantics), 'backward', or 'forward'.
    Ties (equidistant) resolve backward, matching pandas ``merge_asof``.
    When several RIGHT rows share the matched timestamp, the matched
    timestamp and ``asof_dist`` are fully determined but the payload
    returned is an arbitrary member of that tie class (pinned by
    ``test_asof_join_duplicate_right_timestamps``) — add a secondary
    sort key upstream if your right side carries meaningful duplicates.

    Implementation is the sorted-union window trick: one shuffle on
    (by, on), two running-window passes, no range-explosion — at scale this
    is a single sort-merge pass, vastly cheaper than a range join.

    With no ``by`` keys a naive global window would sort everything in ONE
    task; instead the unkeyed path range-partitions the union on ``on``
    (``repartitionByRange`` — every partition holds a contiguous time slice),
    runs the same running windows per range slice, then fixes the slice
    boundaries with a tiny per-partition summary (last/first right row of
    each slice, ≤ one row per partition) broadcast back: row counts per task
    stay bounded at any input size, so the unkeyed as-of scales like the
    keyed one (two shuffles instead of one).
    ``tolerance`` (same units as ``on``) nulls out matches farther than the
    bound. Output: all left columns + matched ``right_cols`` (default: all
    non-key right columns, suffixed on collision) + ``asof_dist``.
    """
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(direction)
    by = list(by or [])
    if right_cols is None:
        right_cols = [c for c in right.columns if c != on and c not in by]
    out_names = [c + suffix if c in left.columns else c for c in right_cols]

    payload = F.struct(*[F.col(c).alias(o)
                         for c, o in zip(right_cols, out_names)])
    r = right.select(*by, F.col(on).alias("__t"),
                     payload.alias("__p"), F.lit(1).alias("__is_r"))
    l = left.select("*", F.col(on).alias("__t"),
                    F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
                    F.lit(0).alias("__is_r"))
    lcols = [c for c in left.columns]
    u = l.select(*lcols, "__t", "__p", "__is_r").unionByName(
        r.select(*[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
                   for c in lcols if c not in by] + by
                 + [F.col("__t"), F.col("__p"), F.col("__is_r")],
                 ).select(*lcols, "__t", "__p", "__is_r"))

    # right rows sort before left rows at equal __t so a same-timestamp match
    # is seen as 'backward' at distance 0
    order = [F.col("__t"), F.col("__is_r").desc()]
    # The forward-looking columns are computed over the EXACT REVERSE
    # sort with a running [unboundedPreceding, current] frame, not a
    # [current, unboundedFollowing] frame over the forward sort:
    # WindowExec's unbounded-following frame re-aggregates the whole
    # tail for EVERY row — O(rows²) per partition (measured 64 s vs
    # 0.3 s for 60 k rows in one slice, r15 profile), which turns any
    # large slice/group into a quadratic straggler at scale.  The
    # reversed running `last` is the same value (same tie class: rows
    # identical on (__t, __is_r) are interchangeable in both forms)
    # computed incrementally; it costs one extra sort, zero exchanges.
    rev_order = [F.col("__t").desc(), F.col("__is_r").asc()]
    r_t = F.when(F.col("__is_r") == 1, F.col("__t"))
    if by:
        wp = Window.partitionBy(*by).orderBy(*order) \
            .rowsBetween(Window.unboundedPreceding, 0)
        wn = Window.partitionBy(*by).orderBy(*rev_order) \
            .rowsBetween(Window.unboundedPreceding, 0)
        u = (u.withColumn("__pp", F.last("__p", ignorenulls=True).over(wp))
              .withColumn("__pt", F.last(r_t, ignorenulls=True).over(wp))
              .withColumn("__np", F.last("__p", ignorenulls=True).over(wn))
              .withColumn("__nt", F.last(r_t, ignorenulls=True).over(wn)))
    else:
        u = _unkeyed_running(u, order, rev_order, r_t)
    u = u.where(F.col("__is_r") == 0)

    t = F.col("__t")
    d_prev = t.cast("double") - F.col("__pt").cast("double")
    d_next = F.col("__nt").cast("double") - t.cast("double")
    if direction == "backward":
        chosen, dist = F.col("__pp"), d_prev
    elif direction == "forward":
        # forward is inclusive of equal timestamps (pandas merge_asof
        # matches on right.t >= left.t).  A right row at exactly __t sorts
        # BEFORE the left row (so the forward-looking window never sees it)
        # but is captured by the backward pass at distance 0 — take it.
        eq = F.col("__pt").isNotNull() & (d_prev == 0)
        chosen = F.when(eq, F.col("__pp")).otherwise(F.col("__np"))
        dist = F.when(eq, F.lit(0.0)).otherwise(d_next)
    else:
        take_next = (F.col("__pt").isNull()
                     | (F.col("__nt").isNotNull() & (d_next < d_prev)))
        chosen = F.when(take_next, F.col("__np")).otherwise(F.col("__pp"))
        dist = F.when(take_next, d_next).otherwise(d_prev)
    if tolerance is not None:
        chosen = F.when(dist <= tolerance, chosen)
        dist = F.when(dist <= tolerance, dist)
    u = u.withColumn("__chosen", chosen).withColumn("asof_dist", dist)
    return u.select(*lcols,
                    *[F.col(f"__chosen.{o}").alias(o) for o in out_names],
                    "asof_dist")


def _unkeyed_running(u: DataFrame, order, rev_order, r_t) -> DataFrame:
    """Running prev/next right-row columns for the unkeyed as-of, without a
    single-task global sort.

    1. Slice the timeline into contiguous ranges via in-plan
       ``approx_percentile`` boundaries (broadcast 1-row frame).  The slice
       id ``__pid`` is a *deterministic function of* ``__t`` — crucially NOT
       ``repartitionByRange`` + ``spark_partition_id()``, whose boundary
       sampling runs per physical exchange: the plan below branches two
       ways (rows / per-slice summary) and column pruning makes the
       branches non-identical, defeating exchange reuse, so sampled pids
       could disagree between branches.  A pure expression cannot
       disagree.  Equal ``__t`` values always share a slice, so the
       backward-at-distance-0 tie rule never straddles a boundary.
    2. Per-slice running windows partitioned by ``__pid`` (one hash shuffle,
       every task holds one bounded contiguous slice).
    3. Boundary fix-up: one row per slice (last/first right row), window over
       that tiny frame (≤ slice-count rows), broadcast-joined back;
       ``coalesce`` fills the rows whose prev/next right neighbour lives in
       another slice.
    """
    nb = max(2, int(u.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                            "200")))
    probs = ", ".join(str((i + 1) / nb) for i in range(nb - 1))
    # boundary estimation runs on a seeded 10% sample at modest sketch
    # accuracy: boundaries only steer slice BALANCE, never correctness
    # (the per-slice summary fix-up below repairs any straddle), and the
    # full-accuracy full-data sketch was ~1/3 of the whole as-of's cost
    # once the noop bench action exposed it.  The seed keeps the plan
    # deterministic run to run.
    bounds = u.sample(fraction=0.1, seed=7).agg(F.expr(
        f"approx_percentile(cast(__t as double), array({probs}), 2000)"
    ).alias("__bounds"))
    # coalesce to the empty array: an empty/tiny sample yields NULL
    # bounds, which must mean "one slice" (pid 0 for every row), not a
    # NULL pid that the inner boundary join would silently drop
    u2 = (u.crossJoin(F.broadcast(bounds))
           .withColumn("__pid", F.expr(
               "aggregate(coalesce(__bounds, array()), 0, "
               "(a, b) -> a + CASE WHEN cast(__t as double) >= b "
               "THEN 1 ELSE 0 END)"))
           .drop("__bounds"))
    wp = Window.partitionBy("__pid").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    # reversed running frame, NOT [0, unboundedFollowing] — see the
    # quadratic-frame note in asof_join (same value, O(n log n))
    wn = Window.partitionBy("__pid").orderBy(*rev_order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    # per-slice right-row summary from the PRE-window frame (the agg needs
    # only __pid/__p/__t, so hanging it off the windowed frame would just
    # lean on Catalyst to prune the window — express the cheap branch
    # directly instead)
    rb = (u2.where(F.col("__is_r") == 1)
            .groupBy("__pid")
            .agg(F.max_by("__p", "__t").alias("__lastp"),
                 F.max("__t").alias("__lastt"),
                 F.min_by("__p", "__t").alias("__firstp"),
                 F.min("__t").alias("__firstt")))
    u2 = (u2.withColumn("__pp", F.last("__p", ignorenulls=True).over(wp))
            .withColumn("__pt", F.last(r_t, ignorenulls=True).over(wp))
            .withColumn("__np", F.last("__p", ignorenulls=True).over(wn))
            .withColumn("__nt", F.last(r_t, ignorenulls=True).over(wn)))
    # __pid = count of bounds <= __t is 0..nb-1 by construction, so the
    # slice domain is a local range — NOT a distinct() over the data, which
    # would rescan the whole union a third time just to enumerate 0..nb-1
    pids = (u.sparkSession.range(nb)
            .select(F.col("id").cast("int").alias("__pid")))
    wprev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy("__pid").rowsBetween(1, Window.unboundedFollowing)
    bb = (pids.join(rb, "__pid", "left")
              .select("__pid",
                      F.last("__lastp", ignorenulls=True).over(wprev).alias("__bpp"),
                      F.last("__lastt", ignorenulls=True).over(wprev).alias("__bpt"),
                      F.first("__firstp", ignorenulls=True).over(wnext).alias("__bnp"),
                      F.first("__firstt", ignorenulls=True).over(wnext).alias("__bnt")))
    u2 = u2.join(F.broadcast(bb), "__pid")
    return (u2.withColumn("__pp", F.coalesce("__pp", "__bpp"))
              .withColumn("__pt", F.coalesce("__pt", "__bpt"))
              .withColumn("__np", F.coalesce("__np", "__bnp"))
              .withColumn("__nt", F.coalesce("__nt", "__bnt"))
              .drop("__pid", "__bpp", "__bpt", "__bnp", "__bnt"))


def register_asof_view(spark, name: str, left: str, right: str, on: str,
                       by: Sequence[str] | None = None,
                       direction: str = "nearest",
                       tolerance=None,
                       right_cols: Sequence[str] | None = None,
                       suffix: str = "_right") -> DataFrame:
    """SQL surface for :func:`asof_join` — the engine's MATCH_NEAREST
    analog for pure-SQL clients (the workload's most-used custom
    operator, reference ``trace_handling.py`` nearest-capture
    alignment).

    ``left`` / ``right`` name existing tables or temp views; the as-of
    result is registered as temp view ``name`` and returned.  The view
    holds the LOGICAL plan, not data: a client's ``spark.sql("SELECT ...
    FROM <name> WHERE ...")`` composes through Catalyst, so projections
    prune into the underlying scans and filters on the ``by`` keys push
    below the as-of shuffle — same plan quality as the DataFrame call,
    zero materialization.

    Example (pure SQL after one registration call)::

        register_asof_view(spark, "readings_cal", "readings", "cal",
                           on="ts", by=["sensor"])
        spark.sql(\"\"\"SELECT sensor, ts, gain, asof_dist
                      FROM readings_cal WHERE sensor = 'a7'\"\"\")
    """
    out = asof_join(spark.table(left), spark.table(right), on=on, by=by,
                    direction=direction, tolerance=tolerance,
                    right_cols=right_cols, suffix=suffix)
    out.createOrReplaceTempView(name)
    return out


# --------------------------------------------------------------------------
# interval (range) join — bucketed equi-join form of a non-equi join
# --------------------------------------------------------------------------

def interval_join(points: DataFrame, intervals: DataFrame, t_col: str,
                  start_col: str, end_col: str, bucket: int,
                  by: Sequence[str] | None = None,
                  suffix: str = "_iv") -> DataFrame:
    """Join each point row to every interval row with
    ``start <= t <= end`` (inner), without a nested-loop join.

    Spark has no native range join; the naive ``ON t BETWEEN s AND e``
    plans as BroadcastNestedLoop/cartesian — O(n·m) at scale. This is the
    standard bucketed rewrite: every interval explodes into the coarse
    buckets it covers (``sequence(s div B, e div B)``), the join becomes an
    EQUI-join on (by..., bucket) — shuffle-partitionable, AQE/skew-aware —
    and the exact ``BETWEEN`` filter runs after. A qualifying pair meets in
    exactly one bucket (the point's own), so no dedup pass is needed.

    ``bucket`` is the width in ``t``'s units and is the cost dial: work ≈
    interval rows × (len/B + 1) exploded copies + equi-join on buckets of
    points. Pick B near the median interval length; pathological long
    intervals can be split/capped upstream.
    """
    by = list(by or [])
    pb = points.withColumn("__b", (F.col(t_col) / bucket).cast("bigint"))
    iv_cols = [c for c in intervals.columns]
    out_names = {c: c + suffix if c in points.columns else c
                 for c in iv_cols}
    iv = intervals.select(
        *[F.col(c).alias(out_names[c]) for c in iv_cols],
        F.explode(F.sequence(
            (F.col(start_col) / bucket).cast("bigint"),
            (F.col(end_col) / bucket).cast("bigint"))).alias("__b"))
    s, e = out_names[start_col], out_names[end_col]
    cond = [pb["__b"] == iv["__b"]] + \
           [pb[k] == iv[out_names[k]] for k in by]
    j = pb.join(iv, cond).drop("__b")
    return j.where((F.col(t_col) >= F.col(s)) & (F.col(t_col) <= F.col(e)))


# --------------------------------------------------------------------------
# group limiting / gaps / pivot (P8, W1, R3)
# --------------------------------------------------------------------------

def limiter(df: DataFrame, group_cols: Sequence[str],
            order_cols: Sequence[str]) -> DataFrame:
    """Truncate every group to the size of the smallest group (P8,
    colormap_plots cell 2): row_number per group vs broadcast min count."""
    counts = df.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    mn = counts.agg(F.min("__n").alias("__mn"))
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
              .crossJoin(F.broadcast(mn))
              .where(F.col("__rn") <= F.col("__mn"))
              .drop("__rn", "__mn"))


def salted_agg(df: DataFrame, keys: Sequence[str],
               aggs: dict, n_salt: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys: a random salt splits
    each hot key across ``n_salt`` reducers for the partial phase, then a
    cheap final combine on the true keys. Equivalent to
    ``df.groupBy(keys).agg(...)`` for algebraic aggregates.

    ``aggs`` maps output alias → (op, column) with op ∈
    {'sum', 'min', 'max', 'count', 'avg'} ('count' ignores the column).

    When one key holds a disproportionate share of rows (one frequency, one
    event type), the plain groupBy sends it to a single reducer; salting
    bounds per-task input at rows/n_salt. AQE's skew handling covers joins —
    this covers aggregations.
    """
    valid = {"sum", "min", "max", "count", "avg"}
    for alias, (op, _) in aggs.items():
        if op not in valid:
            raise ValueError(f"{alias}: op must be one of {sorted(valid)}")
    salted = df.withColumn("__salt",
                           (F.rand(seed=0) * n_salt).cast("int"))
    partial, final = [], []
    for alias, (op, col) in aggs.items():
        if op == "count":
            partial.append(F.count("*").alias(f"__p_{alias}"))
            final.append(F.sum(f"__p_{alias}").alias(alias))
        elif op == "avg":
            partial.append(F.sum(col).alias(f"__ps_{alias}"))
            partial.append(F.count(col).alias(f"__pc_{alias}"))
            final.append((F.sum(f"__ps_{alias}")
                          / F.sum(f"__pc_{alias}")).alias(alias))
        else:
            fn = getattr(F, op)
            partial.append(fn(col).alias(f"__p_{alias}"))
            final.append(getattr(F, "sum" if op == "sum" else op)
                         (f"__p_{alias}").alias(alias))
    part = salted.groupBy(*keys, "__salt").agg(*partial)
    return part.groupBy(*keys).agg(*final)


def time_gaps(df: DataFrame, ts_col: str = "datetime",
              by: Sequence[str] = ()) -> DataFrame:
    """Seconds since the previous row per group (W1 gap/restart detection)."""
    w = Window.partitionBy(*by).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    return df.withColumn(
        "gap_seconds",
        F.col(ts_col).cast("double") - prev.cast("double"))


def pivot_wide(df: DataFrame, keys: Sequence[str], pivot_col: str,
               value_col: str, values: Sequence[str] | None = None) -> DataFrame:
    """R3 unstack: one column per pivot value, first() as the cell (trace
    tables hold exactly one row per key × pivot value)."""
    p = df.groupBy(*keys).pivot(pivot_col, list(values) if values else None)
    return p.agg(F.first(value_col))


# --------------------------------------------------------------------------
# timezone & domain scalars (F2, F5, D7, D8)
# --------------------------------------------------------------------------

def localize(df: DataFrame, ts_col: str = "datetime",
             tz="timezone") -> DataFrame:
    """Sensor-local wall-clock view of a UTC timestamp column (F2):
    adds ``{ts_col}_local``. ``tz`` is a column name or a literal string."""
    tz_col = F.col(tz) if tz in df.columns else F.lit(tz)
    return df.withColumn(f"{ts_col}_local",
                         F.from_utc_timestamp(F.col(ts_col), tz_col))


def rayleigh_amplitude(prob_col, x0=0.0) -> Column:
    """APD Rayleigh x-transform (D8): x = x0 − 10·log10(−ln p)."""
    p = _c(prob_col).cast("double")
    base = _c(x0) if isinstance(x0, (Column, str)) else F.lit(float(x0))
    return base - 10.0 * F.log10(-F.log(p))


def noise_floor_dBm(nf_col, enbw_hz=10e6, temp_k: float = 290.0) -> Column:
    """Thermal noise floor kTB (dBm) + noise figure (F5/D7):
    10·log10(k·T) + 30 + 10·log10(ENBW) + NF."""
    import math
    ktb_dbm_hz = 10.0 * math.log10(1.380649e-23 * temp_k) + 30.0
    bw = _c(enbw_hz) if isinstance(enbw_hz, (Column, str)) else F.lit(float(enbw_hz))
    return F.lit(ktb_dbm_hz) + 10.0 * F.log10(bw) + _c(nf_col)


def exact_median_large(df: DataFrame, keys: Sequence[str],
                       value_col: str) -> DataFrame:
    """Exact per-group median for groups too large to buffer (the
    pathological case SCALE.md §3 reserves this for — ``percentile``
    collects one group's values into one aggregation buffer; a
    billion-row group OOMs it).

    Two passes, both scalable: (1) value-compress — count per (key,
    value), so downstream state is one row per DISTINCT value, not per
    input row; (2) rank — a cumulative-count window per key over the
    compressed values locates the value(s) covering the middle ranks
    (count + offset-rank). Even-sized groups average the two middle
    values, matching ``percentile(col, 0.5)`` exactly. The per-key
    window sorts only the distinct-value stream; keys process in
    parallel, and heavily duplicated data (the usual reason a group is
    huge) compresses proportionally.
    """
    from pyspark.sql import Window
    keys = list(keys)
    # percentile() ignores NULLs; drop them before counting/ranking so a
    # nullable column can't shift the middle ranks (or become the median)
    df = df.where(F.col(value_col).isNotNull())
    vc = (df.groupBy(*keys, value_col)
            .agg(F.count("*").alias("_c")))
    w = Window.partitionBy(*keys).orderBy(value_col)
    cum = (vc.withColumn("_hi", F.sum("_c").over(w))
             .withColumn("_lo", F.col("_hi") - F.col("_c")))
    tot = df.groupBy(*keys).agg(F.count("*").alias("_n"))
    j = cum.join(tot, keys)
    r1 = F.floor((F.col("_n") - 1) / 2)     # zero-based middle ranks
    r2 = F.floor(F.col("_n") / 2)
    v = F.col(value_col).cast("double")
    sel = j.select(
        *keys,
        F.when((F.col("_lo") <= r1) & (r1 < F.col("_hi")), v).alias("_v1"),
        F.when((F.col("_lo") <= r2) & (r2 < F.col("_hi")), v).alias("_v2"),
        F.col("_n"))
    return (sel.groupBy(*keys)
               .agg(((F.max("_v1") + F.max("_v2")) / 2.0).alias("median"),
                    F.max("_n").alias("n")))


def weighted_median_large(df: DataFrame, keys: Sequence[str],
                          value_col: str, weight_col: str,
                          bucket_width: float = 1.0,
                          weight_type: str = "decimal(28,6)",
                          broadcast_bound: bool = True) -> DataFrame:
    """Exact weighted median (min v with 2·cumweight(≤v) ≥ totalweight)
    per key, for groups too large to run one cumulative-weight window
    over (a single window per key serializes the whole group into one
    task — measured 13 s at 16× sf0.1 for 3 keys vs sub-second here).

    Histogram-refinement in two bounded passes (the distributed-quantile
    classic):

    1. value-compress per (key, bucket, value) and total per (key,
       bucket) — the only full-data shuffle; everything after runs on
       the compressed streams.  A running bucket-total window (state =
       buckets-per-key, bounded by ``bucket_width`` and the value
       domain) locates the single boundary bucket whose cumulative
       weight crosses half the total.
    2. rank inside the boundary bucket only: the per-key window in this
       pass sorts just that bucket's distinct values.

    Weights are summed as DECIMAL (associative, engine-exact); the
    result is an existing cell of ``value_col`` — no float arithmetic.
    Rows with NULL value or weight are ignored.
    """
    from pyspark.sql import Window
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    keys = list(keys)
    v = F.col(value_col)
    df = df.where(v.isNotNull() & F.col(weight_col).isNotNull())
    wd = F.col(weight_col).cast(weight_type)
    b = F.floor(v / F.lit(float(bucket_width)))
    vals = (df.groupBy(*keys, b.alias("_b"), v.alias("_v"))
              .agg(F.sum(wd).alias("_w")))
    bkt = vals.groupBy(*keys, "_b").agg(F.sum("_w").alias("_bw"))
    wb = Window.partitionBy(*keys).orderBy("_b")
    cum = (bkt.withColumn("_thru", F.sum("_bw").over(wb))
              .withColumn("_tot", F.sum("_bw")
                          .over(Window.partitionBy(*keys))))
    bound = (cum.where(F.lit(2) * F.col("_thru") >= F.col("_tot"))
                .groupBy(*keys)
                .agg(F.min(F.struct("_b", "_thru", "_bw", "_tot"))
                      .alias("_s"))
                .select(*keys, F.col("_s._b").alias("_b"),
                        (F.col("_s._thru") - F.col("_s._bw"))
                        .alias("_before"),
                        F.col("_s._tot").alias("_tot")))
    # the boundary frame is ONE ROW PER KEY: broadcast it for the usual
    # few-to-thousands-of-keys case; pass broadcast_bound=False when the
    # key domain is huge (millions+) and let AQE pick the join strategy
    bnd = F.broadcast(bound) if broadcast_bound else bound
    in_b = vals.join(bnd, keys + ["_b"])
    wv = Window.partitionBy(*keys).orderBy("_v")
    ranked = in_b.withColumn("_cum", F.sum("_w").over(wv))
    return (ranked
            .where(F.lit(2) * (F.col("_before") + F.col("_cum"))
                   >= F.col("_tot"))
            .groupBy(*keys)
            .agg(F.min("_v").alias("weighted_median")))


def zorder_key(cols: Sequence, bits: int = 8) -> Column:
    """Morton/Z-order interleave of the low ``bits`` bits of each column:
    bit ``i`` of column ``j`` lands at position ``i*k + j`` of the key.
    Inputs must already be small non-negative ints (bucketed/modded by the
    caller); the key fits a BIGINT for ``bits * k <= 63``.

    This is the write-time multi-dimensional clustering primitive (the
    layout trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``): sorting by
    the interleaved key makes every contiguous file hold a small rectangle
    of the key space, so parquet min/max footer stats prune scans on ANY
    of the interleaved dimensions, not just the leading sort column —
    see ``sources.bucketed.zorder_write`` and its file-stats contract
    test. Pure bit arithmetic (2·k·bits codegen'd ops, no UDF, no
    shuffle); shiftright/shiftleft built-ins keep the pyspark>=3.5 floor
    (the ``>>`` SQL operator is 4.0-only).
    """
    k = len(cols)
    if bits * k > 63:
        raise ValueError(f"zorder_key: {bits} bits x {k} cols > 63")
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        x = _c(c).cast("bigint")
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                                i * k + j)
    return z


def merge_upsert(base: DataFrame, updates: DataFrame,
                 keys: "Sequence[str]",
                 order_by: "Sequence[str]") -> DataFrame:
    """Last-wins MERGE/upsert for a plain-parquet warehouse: rows from
    ``updates`` replace same-key rows in ``base``; unmatched keys pass
    through; within a key the row with the greatest ``order_by`` tuple
    wins (make the last column a unique id for determinism).

    Shape: ``unionByName`` + one window on the merge key — a single
    shuffle, the MERGE-less upsert companion of
    ``ingest.backfill_partitions``.  At 100 TB with a small update batch,
    flip the plan: broadcast the update keys, anti-join the base, and
    union — same result, no base shuffle; this helper declares the
    general (both-sides-large) form, which is also what a sort-merge
    MERGE INTO executes.
    """
    u = base.unionByName(updates)
    w = Window.partitionBy(*[F.col(k) for k in keys]) \
              .orderBy(*[F.col(c).desc() for c in order_by])
    return (u.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") == 1).drop("__rn"))


def snapshot_diff(base: DataFrame, current: DataFrame,
                  keys: "Sequence[str]",
                  compare: "Sequence[str]") -> DataFrame:
    """Change-data-capture diff of two keyed snapshots: one row per key
    whose state changed — ``op`` ∈ insert / delete / update, with the
    old and new compare-column structs. Unchanged keys are dropped.

    Shape: ONE full-outer sort-merge join on the key (the canonical
    snapshot-diff plan; both sides shuffle once). Comparison is
    null-safe (``<=>``) per column so NULL→value transitions count as
    updates. At 100 TB, key-bucketed snapshot layouts (see
    ``streaming.upsert_stream``) make this join zero-shuffle.
    """
    b = base.select(*keys, F.struct(*[F.col(c) for c in compare])
                    .alias("__old"))
    c = current.select(*keys, F.struct(*[F.col(c) for c in compare])
                       .alias("__new"))
    j = b.join(c, list(keys), "full_outer")
    same = F.col("__old").eqNullSafe(F.col("__new"))
    op = (F.when(F.col("__old").isNull(), "insert")
           .when(F.col("__new").isNull(), "delete")
           .otherwise("update"))
    return (j.where(F.col("__old").isNull() | F.col("__new").isNull()
                    | ~same)
             .select(*keys, op.alias("op"),
                     F.col("__old").alias("old"),
                     F.col("__new").alias("new")))


def _require_names(fname: str, *cols) -> None:
    """Column-NAME (not Column) arguments, shared by the keyed-scan
    family: ordering is always ascending, and a ``desc()`` Column must
    fail loudly rather than silently mis-order the scan."""
    for c in cols:
        if not isinstance(c, str):
            raise TypeError(
                f"{fname} takes column NAMES, got {type(c).__name__}: "
                "ordering is always ascending (negate the column for "
                "descending semantics)")


def _order_slices(df: DataFrame, order0: str) -> DataFrame:
    """Slice the order domain into ~shuffle-partition contiguous ranges:
    seeded-sample ``approx_percentile`` bounds (a deterministic
    expression of the order value — every row computes its slice id
    ``__pid`` locally, no shuffle).  The shared front half of the
    keyed-scan family (:func:`keyed_lead` / :func:`keyed_cumsum` /
    :func:`keyed_cummax`): per-(key, slice) work then runs with full
    parallelism regardless of key count."""
    nb = max(2, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                             "200")))
    probs = ", ".join(str((i + 1) / nb) for i in range(nb - 1))
    bounds = df.sample(fraction=0.1, seed=7).agg(F.expr(
        f"approx_percentile(cast({order0} as double), array({probs}), "
        "2000)").alias("__bounds"))
    return (df.crossJoin(F.broadcast(bounds))
              .withColumn("__pid", F.expr(
                  f"aggregate(coalesce(__bounds, array()), 0, (a, b) -> a "
                  f"+ CASE WHEN cast({order0} as double) >= b THEN 1 ELSE "
                  "0 END)"))
              .drop("__bounds"))


def keyed_lead(df: DataFrame, by: Sequence[str], order: Sequence[str],
               cols: Sequence[str], suffix: str = "__next") -> DataFrame:
    """``lead(col)`` per ``by`` group in ``order`` — WITHOUT the few-key
    window's parallelism ceiling.

    A plain ``Window.partitionBy(by)`` gives one task per key: with 5
    event types, a 100 TB series sorts in 5 tasks no matter the cluster
    (the q127 serialization caveat, measured on q136's TWAP at 16×).
    Here the order domain is sliced into contiguous ranges (seeded-
    sample ``approx_percentile`` bounds — a deterministic expression of
    the order value, the as-of join's slicing trick), the lead runs per
    ``(by, slice)`` with full parallelism, and the one row per (key,
    slice) whose successor lives in the NEXT slice is repaired from a
    broadcast per-(key, slice) first-row summary (lead of that summary
    over pid within each key skips empty slices correctly).

    Returns ``df`` plus ``{c}{suffix}`` for each ``c`` in ``cols``.
    Rows that are their key's global last keep NULL leads.  Cost: one
    hash shuffle on (by, pid) + a keys×slices broadcast — versus the
    naive form's one shuffle on (by) with key-count parallelism.

    For a keyed ``lag``, negate a numeric order column (lag over ts ==
    lead over -ts).  ``time_gaps`` with a low-cardinality ``by`` should
    route through this for the same reason.

    PRECONDITIONS (round-5 advisor; violations are misuse, not edge
    cases):

    - ``by`` must be LOW-cardinality: the keys×slices repair summary is
      broadcast unconditionally (keys × shuffle-partitions rows ×
      ~100 B).  Thousands of keys still fit easily; at millions of keys
      the broadcast explodes — but then a plain ``partitionBy(by)``
      window has no parallelism ceiling to fix and is the right tool.
    - ``order`` is interpreted ASCENDING, always.  Arguments must be
      column NAMES (enforced below), so a ``desc()`` Column cannot be
      passed silently: the min_by/lead repair assumes ascending struct
      order and a descending series would get wrong neighbors, not an
      error.  For descending/lag semantics, negate the order column.
    """
    by, order, cols = list(by), list(order), list(cols)
    _require_names("keyed_lead", *by, *order, *cols)
    u = _order_slices(df, order[0])
    w = Window.partitionBy(*by, "__pid").orderBy(*[F.col(c) for c in order])
    nxt_in = F.lead(F.struct(*[F.col(c) for c in cols])).over(w)
    u = u.withColumn("__nx", nxt_in)
    # per-(key, slice) FIRST row's payload: repairs the slice-boundary
    # lead.  min_by on the order tuple keeps it one aggregate.
    summ = (u.groupBy(*by, "__pid")
             .agg(F.min_by(F.struct(*[F.col(c) for c in cols]),
                           F.struct(*[F.col(c) for c in order]))
                  .alias("__first")))
    wk = Window.partitionBy(*by).orderBy("__pid")
    summ = summ.select(*by, "__pid",
                       F.lead("__first").over(wk).alias("__bnx"))
    u = u.join(F.broadcast(summ), by + ["__pid"], "left")
    u = u.withColumn("__nx", F.coalesce("__nx", "__bnx"))
    out_cols = [F.col(f"__nx.{c}").alias(c + suffix) for c in cols]
    return u.select(*df.columns, *out_cols)


def keyed_cumsum(df: DataFrame, by: Sequence[str], order: Sequence[str],
                 col: str, out: str = "cumsum") -> DataFrame:
    """Running sum of ``col`` per ``by`` group in ``order`` (ROWS
    UNBOUNDED PRECEDING .. CURRENT ROW) — WITHOUT the few-key window's
    parallelism ceiling, via the same order-domain slicing as
    :func:`keyed_lead`.

    A plain ``Window.partitionBy(by)`` running sum is one task per key:
    with 5 event types, a 100 TB sweep sorts in 5 tasks no matter the
    cluster.  Here the order domain splits into contiguous slices
    (seeded-sample ``approx_percentile`` bounds — a deterministic
    expression of the order value), the running sum is computed locally
    per ``(by, slice)`` with full parallelism, and each slice adds the
    EXCLUSIVE prefix of the per-(by, slice) totals — a keys×slices
    summary windowed over the slice id (tiny) and broadcast back.  This
    is the classic two-phase parallel prefix sum expressed in DataFrame
    ops: one hash shuffle on (by, slice) + one broadcast, versus the
    naive form's key-count parallelism.

    PRECONDITIONS (column-name types are checked below; the remaining
    two CANNOT be cheaply enforced distributed-side and are the CALLER'S
    responsibility — violating them yields wrong/nondeterministic
    results, not an error): ``by`` must be low-cardinality (the
    keys×slices summary is broadcast), and order tuples must be UNIQUE
    per group — rows tied on the full ``order`` tuple get an arbitrary
    relative order, so the cumsum at tied rows is nondeterministic
    (pre-aggregate ties away first, as q155_peak_concurrency does).
    Arguments must be column NAMES — ordering is always ascending, same
    contract as :func:`keyed_lead`.
    """
    return _keyed_scan(df, by, order, col, out, "keyed_cumsum", F.sum,
                       lambda loc, off: loc + F.coalesce(off, F.lit(0)))


def _keyed_scan(df: DataFrame, by: Sequence[str], order: Sequence[str],
                col: str, out: str, fname: str, agg, combine,
                inclusive: bool = True) -> DataFrame:
    """Two-phase parallel prefix scan for any ASSOCIATIVE aggregate —
    the shared machinery of :func:`keyed_cumsum` (``agg=F.sum``,
    combine = add with NULL→0) and :func:`keyed_cummax` (``agg=F.max``,
    combine = ``F.greatest``): local scan per (by, order-slice) with
    full parallelism, then each slice combines the EXCLUSIVE prefix of
    per-(by, slice) totals — a keys×slices summary windowed over the
    slice id (tiny) and broadcast back.  One hash shuffle on (by, pid)
    + one broadcast, versus a plain ``partitionBy(by)`` window's
    key-count parallelism ceiling.  ``inclusive=False`` ends the local
    frame at 1 PRECEDING (NULL on each slice's first row — ``combine``
    must treat a NULL local scan as "fall back to the prefix")."""
    by, order = list(by), list(order)
    _require_names(fname, *by, *order, col)
    u = _order_slices(df, order[0])
    upper = Window.currentRow if inclusive else -1
    w = (Window.partitionBy(*by, "__pid")
         .orderBy(*[F.col(c) for c in order])
         .rowsBetween(Window.unboundedPreceding, upper))
    u = u.withColumn("__loc", agg(col).over(w))
    totals = u.groupBy(*by, "__pid").agg(agg(col).alias("__tot"))
    wk = (Window.partitionBy(*by).orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = totals.select(*by, "__pid",
                         agg("__tot").over(wk).alias("__off"))
    u = u.join(F.broadcast(offs), by + ["__pid"], "left")
    return (u.withColumn(out, combine(F.col("__loc"), F.col("__off")))
             .select(*df.columns, out))


def keyed_cummax(df: DataFrame, by: Sequence[str], order: Sequence[str],
                 col: str, out: str = "cummax",
                 inclusive: bool = True) -> DataFrame:
    """Running max of ``col`` per ``by`` group in ``order`` — the
    :func:`keyed_cumsum` pattern with max as the scan operator (max is
    associative, so the same two-phase parallel prefix applies: local
    running max per (by, order-slice) with full parallelism, plus the
    exclusive prefix max of per-slice maxima broadcast back).

    ``inclusive=False`` gives the PRIOR-rows running max (ROWS UNBOUNDED
    PRECEDING .. 1 PRECEDING): NULL on each group's first row — exactly
    the "max end of all earlier intervals" probe the gaps-and-islands
    interval merge needs (corpus q158), without a second window pass.

    Same preconditions as :func:`keyed_cumsum` — and with the same
    enforcement split: column-name types are checked at runtime; the
    low-cardinality ``by`` and unique-order-tuples requirements are the
    CALLER'S responsibility (ties yield nondeterministic results —
    pre-aggregate them away first), they cannot be cheaply verified
    distributed-side.

    greatest() in the combine step skips NULLs: first row of a slice
    (exclusive local NULL) falls back to the prior-slice prefix, first
    slice falls back to the local max, and a group's very first row
    stays NULL — the island boundary marker.
    """
    return _keyed_scan(df, by, order, col, out, "keyed_cummax", F.max,
                       F.greatest, inclusive=inclusive)


def pit_features(anchors: DataFrame, events: DataFrame,
                 keys: Sequence[str], anchor_day: str, event_day: str,
                 aggs: "dict[str, Column]", window_days: int = 7,
                 fill=None) -> DataFrame:
    """Point-in-time feature backfill (the library form of corpus q157):
    for every anchor row, aggregate ``events`` rows of the same ``keys``
    whose ``event_day`` falls in the ``window_days`` days STRICTLY
    BEFORE ``anchor_day`` — leakage-free as-of features, the join every
    feature-store training-set build runs.

    ``aggs`` maps output column name -> aggregate Column over the event
    side (e.g. ``{"n7": F.count("*"), "v7": F.sum("v")}``).  Anchors
    with no in-window events keep a row with ``fill`` (default NULL) in
    every feature column.

    Shape: the day-bounded window becomes ``window_days`` exploded day
    offsets on the anchor side and ONE equi-join on (keys, day) — never
    a range/theta join, which Spark would execute as a broadcast
    nested-loop at scale.  Pre-aggregate the event side to (keys, day)
    grain first when the raw events are large; the join then moves
    keys×days rows, not events.  Cost: one explode (×window_days) + one
    hash join + one anchor-grain aggregate.  ``window_days`` beyond ~90
    multiplies the anchor side accordingly — switch to a
    coarser-than-day bucket grain at that point, same shape.
    """
    keys = list(keys)
    # the synthetic anchor id feeds BOTH join branches: pin it with a
    # lazy checkpoint — monotonically_increasing_id is nondeterministic
    # across re-evaluations and a plain self-join could disagree on ids
    anchors = (anchors.withColumn("__aid", F.monotonically_increasing_id())
               .localCheckpoint(eager=False))
    offs = (anchors.select(
        "__aid", *keys, F.col(anchor_day).alias("__ad"),
        F.explode(F.sequence(F.lit(1), F.lit(int(window_days))))
        .alias("__k"))
        .select("__aid", *keys,
                (F.col("__ad") - F.col("__k")).alias(event_day)))
    g = (offs.join(events, keys + [event_day])
         .groupBy("__aid")
         .agg(*[a.alias(n) for n, a in aggs.items()]))
    out = anchors.join(g, "__aid", "left")
    if fill is not None:
        for n in aggs:
            out = out.withColumn(n, F.coalesce(F.col(n), F.lit(fill)))
    return out.drop("__aid")


def table_fingerprint(df: DataFrame, cols: Sequence[str],
                      by: Sequence[str] | None = None) -> DataFrame:
    """Order-independent integrity digest per partition group (the
    library form of corpus q140): each row canonicalizes ``cols`` to one
    ``|``-joined string, hashes to a 60-bit integer via md5 (identical
    bytes on any engine — never the engine-private ``hash()``), and the
    group digest is ``(n_rows, bit_xor(h), sum(h mod 1000003))``.

    Canonicalization is injective (round-5 advisor fix): each column
    encodes as ``<char_length>:<value>`` with NULL as the bare sentinel
    ``N`` — so ``('a', NULL, 'b')`` vs ``('a', 'b', NULL)`` (NULL-shift)
    and ``('a|b', 'c')`` vs ``('a', 'b|c')`` (delimiter-bearing values)
    produce different digests.  The length prefix makes the ``|`` joins
    unambiguous without any escaping (the parse consumes exactly
    ``length`` chars per field), and ``N`` collides with neither empty
    (``0:``) nor any real value.  A bare ``concat_ws`` silently DROPS
    null columns — undetectable NULL-shift corruption in a tool whose
    whole job is detecting corruption.

    XOR and the modular sum are commutative/associative/invertible, so
    digests are independent of row order, partitioning, and parallelism
    AND mergeable/updatable in O(delta) — see
    :func:`merge_fingerprint`.  A 100 TB copy is verified with
    ``by``-cardinality rows crossing the wire, each side computing its
    digest independently (cross-engine: the same md5-prefix rule runs
    anywhere; DuckDB spelling in q140's oracle).
    """
    by = list(by or [])

    def _enc(c: str):
        s = F.col(c).cast("string")
        # Spark concat propagates NULL (unlike DuckDB's concat — the
        # oracle spelling uses `||` there for the same semantics)
        return F.coalesce(
            F.concat(F.length(s).cast("string"), F.lit(":"), s),
            F.lit("N"))

    canon = F.concat_ws("|", *[_enc(c) for c in cols])
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    hdf = df.select(*by, h.alias("_hv"))
    grouped = hdf.groupBy(*by) if by else hdf.groupBy()
    # unlike q140's oracle (raw sum), the checksum is reduced mod p so it
    # stays bounded under repeated merge_fingerprint folds
    return grouped.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr("bit_xor(_hv)").cast("bigint").alias("fingerprint"),
        (F.sum(F.col("_hv") % 1000003) % 1000003)
        .cast("bigint").alias("mod_checksum"))


def merge_fingerprint(a: DataFrame, b: DataFrame,
                      by: Sequence[str] | None = None) -> DataFrame:
    """Combine two :func:`table_fingerprint` outputs as if their inputs
    had been fingerprinted together: counts add, XOR digests XOR, the
    modular checksums add (mod 1000003 keeps them bounded).  This is the
    O(delta) maintenance path — a warehouse keeps per-partition digests
    and folds each ingest batch's digest in, never re-reading history;
    parity with a from-scratch fingerprint is the mergeability test.

    Groups present in only one side pass through unchanged (full outer
    join semantics), so a delta touching 3 of 10 000 partitions costs 3
    updated rows.
    """
    by = list(by or [])
    an = a.select(*by, F.col("n_rows").alias("_na"),
                  F.col("fingerprint").alias("_fa"),
                  F.col("mod_checksum").alias("_ca"))
    bn = b.select(*by, F.col("n_rows").alias("_nb"),
                  F.col("fingerprint").alias("_fb"),
                  F.col("mod_checksum").alias("_cb"))
    j = (an.join(bn, by, "full_outer") if by
         else an.crossJoin(bn))
    z = F.lit(0).cast("bigint")
    return j.select(
        *by,
        (F.coalesce("_na", z) + F.coalesce("_nb", z)).alias("n_rows"),
        (F.coalesce("_fa", z).bitwiseXOR(F.coalesce("_fb", z)))
        .alias("fingerprint"),
        ((F.coalesce("_ca", z) + F.coalesce("_cb", z)) % 1000003)
        .alias("mod_checksum"))


def skew_profile(df: DataFrame, keys: Sequence[str],
                 top_k: int = 10) -> dict:
    """Key-skew pre-flight for a planned groupBy/join on ``keys`` — the
    "should I salt this?" diagnostic that pairs with :func:`salted_agg`
    and AQE's skew join (to COMPARE several candidate keys in one
    scan with a DataFrame result, use
    ``operators.quality.skew_survey``): one hash-agg over the keys
    (map-side combine),
    then a one-row stats reduce plus a TakeOrdered(top_k) of the heavy
    keys.  Driver result is bounded (top_k rows + 1 stats row) at any
    input size.

    Returns ``{n_rows, n_keys, mean, p50, p99, max, max_share,
    top: [(key tuple, count, share), ...]}``.  ``max_share`` is the
    single decision number: the heaviest key's fraction of all rows —
    at 1000 executors a key holding >0.1% of a large table already
    serializes its reducer (SCALE.md §3's salting rule of thumb).

    ``p50``/``p99`` use ``percentile_approx`` (exact per-key counts,
    approximate quantile OF those counts — a diagnostic, not a query
    result; the exact quantile of millions of key counts is not worth a
    sort here).
    """
    keys = list(keys)
    counts = df.groupBy(*keys).agg(F.count("*").alias("__n")).persist()
    try:
        stats = counts.agg(
            F.sum("__n").alias("rows"), F.count("*").alias("nk"),
            F.avg("__n").alias("mean"),
            F.percentile_approx("__n", 0.5).alias("p50"),
            F.percentile_approx("__n", 0.99).alias("p99"),
            F.max("__n").alias("mx")).first()
        top = counts.orderBy(F.desc("__n"), *keys).limit(top_k).collect()
    finally:
        counts.unpersist()
    n_rows = int(stats.rows or 0)
    return {
        "n_rows": n_rows, "n_keys": int(stats.nk),
        "mean": float(stats.mean) if stats.mean is not None else 0.0,
        "p50": int(stats.p50) if stats.p50 is not None else 0,
        "p99": int(stats.p99) if stats.p99 is not None else 0,
        "max": int(stats.mx) if stats.mx is not None else 0,
        "max_share": (int(stats.mx) / n_rows) if n_rows else 0.0,
        "top": [(tuple(r[k] for k in keys), int(r["__n"]),
                 int(r["__n"]) / n_rows) for r in top],
    }


def fd_error(df: DataFrame, lhs: "Sequence[str] | str",
             rhs: str) -> DataFrame:
    """g3 error of the approximate functional dependency ``lhs -> rhs``
    (Kivinen & Mannila's g3: the minimum FRACTION of rows to delete so
    the FD holds exactly) — the data-profiling primitive behind
    constraint DISCOVERY, where q112's constraint audit CHECKS rules
    someone already wrote.

    One row out: ``(n_rows, n_groups, violations, error)`` with
    violations = n_rows − Σ_g max_v count(g, v) — rows whose rhs value
    is not their lhs-group's plurality value.

    Scale shape: two hash aggregates (count per (lhs, rhs) — map-side
    combinable because duplicates collapse BEFORE the shuffle — then
    max per lhs) and a 1-row reduce; no window, no join, no key-count
    ceiling.  error is floor-quantized (1e-6) from exact BIGINTs."""
    lhs = [lhs] if isinstance(lhs, str) else list(lhs)
    gv = df.groupBy(*lhs, rhs).agg(F.count("*").alias("__c"))
    g = gv.groupBy(*lhs).agg(F.max("__c").alias("__m"),
                             F.sum("__c").alias("__n"))
    return (g.agg(F.sum("__n").cast("bigint").alias("n_rows"),
                  F.count("*").cast("bigint").alias("n_groups"),
                  (F.sum("__n") - F.sum("__m")).cast("bigint")
                  .alias("violations"))
            .withColumn(
                "error",
                F.floor(F.col("violations").cast("double")
                        / F.col("n_rows") * 1000000)
                / F.lit(1000000.0)))


def fd_profile(df: DataFrame,
               candidates: "Sequence[tuple[str, str]]") -> DataFrame:
    """g3 error (:func:`fd_error`) for MANY candidate FDs in ONE scan:
    a ``stack`` melt emits (lhs, rhs, lhs_value, rhs_value) per row per
    candidate, then the same two map-side-combinable hash aggregates
    run keyed by the candidate.  K candidates over a 100 TB table cost
    one table scan instead of K — the scan, not the combiner-compressed
    shuffle, is the dominant term at scale.

    CONTRACT: values group by their STRING form, which is injective for
    integer/string/date/decimal columns — group counts then match
    per-column :func:`fd_error` exactly.  Float/double columns are NOT
    covered by that claim (``-0.0`` vs ``0.0`` are one native group but
    two strings; NaN payloads likewise): profile floats with
    :func:`fd_error` directly, or quantize them to decimals first.
    Returns one row per candidate: ``(lhs, rhs, n_rows, n_groups,
    violations, error)``, error floor-quantized at 1e-6."""
    return fd_errors_from_counts(fd_counts(df, candidates))


def _fd_check_name(c: str) -> str:
    """Reject column names the FD machinery cannot represent safely:
    ``'`` and ``\\`` would break the generated single-quoted ``stack``
    literals, ```` ` ```` the backtick quoting, and ``,`` would make a
    composite label like ``"a,b"`` ambiguous (round-10 advisor
    finding).  Raising beats escaping here — an escaped label would
    silently diverge from the name a caller greps for downstream."""
    if any(ch in c for ch in (",", "'", "`", "\\")):
        raise ValueError(
            f"fd_* column name {c!r} contains one of , ' ` \\ — "
            "rename the column (e.g. .withColumnRenamed) before "
            "profiling; these characters would corrupt the generated "
            "stack() literal or the composite lhs label")
    return c


def _fd_lhs_exprs(lhs: "Sequence[str] | str") -> "tuple[str, str]":
    """(label, value-SQL) for a single-column or COMPOSITE lhs.  A
    composite lhs serializes through ``to_json(struct(...))`` — field
    names and JSON string escaping make it injective for the same
    scalar types the single-column string cast covers (floats stay
    out of contract either way)."""
    if isinstance(lhs, str):
        _fd_check_name(lhs)
        return lhs, f"cast(`{lhs}` as string)"
    cols = [_fd_check_name(c) for c in lhs]
    if len(cols) == 1:
        return cols[0], f"cast(`{cols[0]}` as string)"
    inner = ", ".join(f"`{c}`" for c in cols)
    return ",".join(cols), f"to_json(struct({inner}))"


def fd_counts(df: DataFrame,
              candidates: "Sequence[tuple]") -> DataFrame:
    """The mergeable state behind :func:`fd_profile`: per-candidate
    value-pair counts ``(lhs, rhs, lv, rv, c)`` from ONE stack-melt
    scan.  Counts merge by keyed sum (exactly — see
    ``streaming.fd_profile_stream``), so profiles of two table slices
    combine without rescanning either.  A candidate's lhs may be a
    single column name or a SEQUENCE of names (a composite lhs, the
    level-2 lattice of :func:`fd_discover`) — composites group by
    their ``to_json(struct(...))`` form and are labeled
    ``"col1,col2"``."""
    cands = list(candidates)
    if not cands:
        raise ValueError("fd_profile needs at least one (lhs, rhs) "
                         "candidate")
    parts = []
    for l, r in cands:
        label, lv = _fd_lhs_exprs(l)
        _fd_check_name(r)
        parts.append(f"'{label}', '{r}', {lv}, cast(`{r}` as string)")
    melted = df.select(F.expr(
        f"stack({len(cands)}, {', '.join(parts)}) as (lhs, rhs, lv, "
        "rv)"))
    return melted.groupBy("lhs", "rhs", "lv", "rv").agg(
        F.count("*").cast("bigint").alias("c"))


def fd_discover(df: DataFrame, cols: Sequence[str],
                max_lhs: int = 1,
                max_lhs_groups: int = 1_000_000,
                straddle_guard: "float | None" = None) -> DataFrame:
    """DISCOVER approximate functional dependencies over ``cols`` —
    the TANE/Metanome g3 use case that :func:`fd_profile` only scores
    for a hand-written list: generate the level-1 candidate lattice
    (every ordered column pair), plus the level-2 lattice (every
    unordered column pair as a composite lhs against every remaining
    rhs) when ``max_lhs >= 2``, and score ALL surviving candidates in
    ONE table scan through the :func:`fd_counts` stack melt.

    The BOUNDED-DOMAIN GATE: one pre-scan aggregate computes
    ``approx_count_distinct`` for every candidate lhs (singles and,
    at level 2, column-pair structs — sketch aggregates, so no
    multi-distinct Expand and no context-sensitive plan); any lhs
    whose estimated group count exceeds ``max_lhs_groups`` is dropped
    BEFORE the melt.  A key-like lhs is the degenerate case — its FD
    error is trivially 0 for every rhs (each group has one row) while
    its melt partition carries one group per input row, so the gate
    removes exactly the candidates that cost the most and inform the
    least.  Total cost: two table scans (gate + melt) regardless of
    candidate count K — the per-candidate UNION ALL this replaces
    costs K scans.

    ``straddle_guard`` (a band factor, e.g. 1.3) makes the gate
    REPLAYABLE by an exact engine: if ANY candidate lhs cardinality
    estimate lands inside ``[max_lhs_groups/band, max_lhs_groups*band]``
    the call raises instead of gating — a ±2%-rsd HLL estimate 30%
    away from the gate cannot disagree with an exact COUNT(DISTINCT)
    about which side it is on, so outside the band an approx(Spark)/
    exact(oracle) replay is provably consistent.  The check rides the
    SAME gate aggregate (zero extra scans or actions — r11 verdict #7:
    the q167/q169 wrappers used to pay a separate 1-row agg for it).

    Returns the :func:`fd_profile` schema ``(lhs, rhs, n_rows,
    n_groups, violations, error)`` with composite lhs labeled
    ``"col1,col2"``; same non-float string-form contract."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("fd_discover needs at least two columns")
    if len(set(cols)) != len(cols):
        # a repeated column would stack its candidates twice and the
        # count merge would silently double every n_rows
        raise ValueError("fd_discover columns must be distinct")
    if max_lhs not in (1, 2):
        raise ValueError("max_lhs must be 1 or 2")
    # rsd pinned to 0.02: the q167 oracle-consistency argument (and
    # this docstring's gate contract) is stated against a +-2% HLL
    # bound — the function default is 5%, which would silently widen
    # the band a caller must keep cardinalities away from the gate
    aggs = [F.approx_count_distinct(F.col(c), 0.02).alias(f"__s{i}")
            for i, c in enumerate(cols)]
    pair_idx = []
    if max_lhs >= 2:
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                pair_idx.append((i, j))
        aggs.extend(
            F.approx_count_distinct(F.struct(cols[i], cols[j]), 0.02)
            .alias(f"__p{i}_{j}") for i, j in pair_idx)
    gate = df.agg(*aggs).first()
    if straddle_guard is not None:
        band = float(straddle_guard)
        labels = {f"__s{i}": c for i, c in enumerate(cols)}
        labels.update({f"__p{i}_{j}": f"{cols[i]},{cols[j]}"
                       for i, j in pair_idx})
        for field, label in labels.items():
            est = gate[field]
            if max_lhs_groups / band <= est <= max_lhs_groups * band:
                raise RuntimeError(
                    f"fd_discover: distinct({label}) ~= {est} sits "
                    f"inside the x{band} straddle band of the "
                    f"{max_lhs_groups} gate — an approx(HLL)/exact "
                    "COUNT(DISTINCT) gate replay can disagree here; "
                    "adjust max_lhs_groups or verify this scale factor")
    cands: list = []
    for i, l in enumerate(cols):
        if gate[f"__s{i}"] <= max_lhs_groups:
            cands.extend((l, r) for r in cols if r != l)
    for i, j in pair_idx:
        if gate[f"__p{i}_{j}"] <= max_lhs_groups:
            cands.extend(((cols[i], cols[j]), r)
                         for r in cols if r not in (cols[i], cols[j]))
    if not cands:
        raise ValueError(
            "every candidate lhs exceeded max_lhs_groups "
            f"({max_lhs_groups}) — raise the gate or drop key-like "
            "columns")
    return fd_errors_from_counts(fd_counts(df, cands))


def fd_errors_from_counts(counts: DataFrame) -> DataFrame:
    """g3 report from a :func:`fd_counts` table: plurality max + sum
    per lhs value, then the per-candidate 1-row reduce."""
    g = counts.groupBy("lhs", "rhs", "lv").agg(
        F.max("c").alias("__m"), F.sum("c").alias("__n"))
    return (g.groupBy("lhs", "rhs")
            .agg(F.sum("__n").cast("bigint").alias("n_rows"),
                 F.count("*").cast("bigint").alias("n_groups"),
                 (F.sum("__n") - F.sum("__m")).cast("bigint")
                 .alias("violations"))
            .withColumn(
                "error",
                F.floor(F.col("violations").cast("double")
                        / F.col("n_rows") * 1000000)
                / F.lit(1000000.0)))
