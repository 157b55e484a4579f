"""Mergeable frequency and quantile sketches for warehouse rollups.

The reference engine answers "how often / how big" questions only by
exact aggregation (``sea_ingest`` has no sketch layer); at 100 TB a
warehouse also needs SUBLINEAR summaries it can maintain incrementally:
per-partition sketch rows that merge in O(sketch) when new data lands,
never re-reading history — the same maintenance contract as
``functions.table_fingerprint`` (integrity), ``similarity.pca_moments``
(models) and the streaming HLL rollup (distinct counts).  This module
adds the two missing families:

* **Count-Min** (`Cormode & Muthukrishnan 2005`): point-frequency
  estimates with one-sided error — ``est >= true`` always and
  ``est <= true + (e/width) * N`` with probability ``1 - exp(-depth)``.
  The sketch IS a DataFrame of ``(depth, bucket, count)`` cells, built
  with nothing but ``posexplode`` + hash + ``groupBy().sum()`` — fully
  JVM-side, map-side partial aggregation, no Python, no collect, and
  two sketches merge with a union + re-sum (:func:`cm_merge`).

* **Deterministic compactor quantile sketch** (the Manku-Rajagopalan-
  Lindsay / KLL compactor-stack shape with deterministic even/odd
  halving): rank queries with additive ``O(n * log(n/k) / k)`` error
  from ``O(k * log(n/k))`` retained values.  Partials build per Arrow
  batch (``mapInPandas``), the bounded set of partial rows merges
  driver-side (:func:`quantile_sketch`, the ``pca_fit`` shape) or
  per-key inside ``applyInPandas`` (:func:`grouped_quantile_sketch`,
  one shuffle, state per key = one sketch row).  The stored form is a
  pair of aligned arrays ``(values sorted, weights)`` that
  :func:`sketch_quantile_expr` can query JVM-side — sketches live in
  parquet next to the data they summarize and are queryable in SQL
  without re-materializing a Python object.

Scale notes: Count-Min size is ``depth * width`` cells regardless of
input size; the quantile sketch holds ``<= 2k`` weighted values per
(key,) group at any ``n``.  Neither path collects data-proportional
state: :func:`quantile_sketch` collects one ~2k-value row per Arrow
batch (bounded by partition/batch count, like ``pca_moments``).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cm_sketch", "cm_merge", "cm_lookup",
    "QuantileSketch", "quantile_sketch", "grouped_quantile_sketch",
    "merge_sketch_rows", "sketch_quantile_expr", "sketch_rank_expr",
    "psi", "drift_profile", "psi_table",
]


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------

# Distinct xxhash64 seeds per depth row — the golden-ratio multiplier
# keeps them well-spread; any fixed distinct integers work, but they must
# be IDENTICAL between cm_sketch and cm_lookup (same reason the LSH
# hyperplanes in similarity.py are seed-pinned).
def _cm_seed(i: int) -> int:
    return (i * 0x9E3779B9 + 0x1234_5678) & 0x7FFF_FFFF


def _cm_cells(item: Column, depth: int, width: int) -> Column:
    """Array of the ``depth`` bucket indices an item maps to."""
    s = item.cast("string")
    return F.array(*[
        F.pmod(F.xxhash64(s, F.lit(_cm_seed(i))), F.lit(width))
        for i in range(depth)])


def cm_sketch(df: DataFrame, item_col: str, depth: int = 5,
              width: int = 2048, weight_col: str | None = None
              ) -> DataFrame:
    """Build a Count-Min sketch over ``item_col`` as a DataFrame of
    ``(depth int, bucket int, count long)`` cells (zero cells implicit).

    Entirely JVM-side: ``posexplode`` fans each row to ``depth`` cells,
    the hash-aggregate combines map-side, and the result is at most
    ``depth * width`` rows no matter the input size — the sketch of a
    100 TB table is a few MB.  ``weight_col`` (optional, cast to long)
    makes it a weighted-frequency sketch.

    Accuracy (standard CM guarantee): for total weight ``N``,
    ``true <= cm_lookup(...) <= true + (e/width) * N`` with probability
    ``>= 1 - exp(-depth)`` per item.  Pick ``width = ceil(e/eps)`` for
    additive error ``eps * N``.
    """
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    cells = df.select(
        w.alias("w"),
        F.posexplode(_cm_cells(F.col(item_col), depth, width))
         .alias("depth", "bucket"))
    return (cells.groupBy("depth", "bucket")
            .agg(F.sum("w").alias("count")))


def cm_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two Count-Min sketches built with IDENTICAL (depth, width):
    cell-wise sum — associative, commutative, exact (merging equals
    having sketched the union).  The O(delta) warehouse maintenance
    path: sketch each ingest batch, fold it into the stored sketch."""
    return (a.unionByName(b).groupBy("depth", "bucket")
            .agg(F.sum("count").alias("count")))


def cm_lookup(sketch: DataFrame, queries: DataFrame, item_col: str,
              depth: int = 5, width: int = 2048) -> DataFrame:
    """Point-frequency estimates for ``queries[item_col]`` against a
    sketch from :func:`cm_sketch` (SAME depth/width — the seeds are
    derived from the row index, so the params are the whole contract).

    Plan shape: queries fan out to their ``depth`` cells, LEFT-join the
    broadcast sketch (a missing cell is a zero count — the left join is
    what keeps never-seen items at estimate 0 instead of dropping them),
    then ``min`` over the rows.  The sketch side is ≤ depth*width rows,
    always broadcastable; per-query cost is ``depth`` lookups.

    Returns ``queries`` columns + ``cm_estimate`` (long).
    """
    cells = queries.select(
        "*",
        F.posexplode(_cm_cells(F.col(item_col), depth, width))
         .alias("depth", "bucket"))
    joined = cells.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    keep = [c for c in queries.columns]
    return (joined.groupBy(*keep)
            .agg(F.min(F.coalesce(F.col("count"), F.lit(0)))
                 .alias("cm_estimate")))


# ---------------------------------------------------------------------------
# Deterministic compactor quantile sketch
# ---------------------------------------------------------------------------

class QuantileSketch:
    """Compactor-stack quantile sketch (MRL/KLL shape, deterministic).

    ``levels[i]`` holds values each representing ``2**i`` originals.
    When a level exceeds ``k`` items it is sorted and halved — keep the
    even- or odd-indexed items, alternating per level per compaction
    (the deterministic variant of KLL's coin flip; alternation cancels
    the systematic rank bias that always-even would accumulate) — and
    the survivors push into the level above with doubled weight.  Rank
    error per compaction of level ``i`` is ``<= 2**i``; with ``<= n/k``
    compactions spread geometrically across levels the additive rank
    error is ``O(n * log2(n/k) / k)``.  Exact while ``n <= k``.

    Not order-invariant (which values co-compact depends on arrival
    order), but the error bound holds for every order — tests assert
    the bound, plus bit-exact determinism for a fixed order.
    """

    __slots__ = ("k", "levels", "n", "_parity")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("quantile sketch: k must be >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0)]
        self._parity: list[int] = [0]
        self.n = 0

    def update_batch(self, values) -> "QuantileSketch":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if not len(v):
            return self
        self.n += len(v)
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compact()
        return self

    def _compact(self) -> None:
        i = 0
        while i < len(self.levels):
            lv = self.levels[i]
            if len(lv) <= self.k:
                i += 1
                continue
            lv = np.sort(lv)
            # Halve an EVEN-length body so total weight conserves
            # exactly (sum(weights) == n at all times); an odd straggler
            # stays at this level with unchanged weight — no error.
            if len(lv) % 2:
                leftover, body = lv[-1:], lv[:-1]
            else:
                leftover, body = np.empty(0), lv
            keep = body[self._parity[i]::2]
            self._parity[i] ^= 1
            self.levels[i] = leftover
            if i + 1 == len(self.levels):
                self.levels.append(np.empty(0))
                self._parity.append(0)
            self.levels[i + 1] = np.concatenate(
                [self.levels[i + 1], keep])
            i += 1

    def merge(self, other: "QuantileSketch") -> "QuantileSketch":
        """In-place merge — level-wise concatenation then compaction;
        the union's error bound is the bound for the combined ``n``."""
        if other.k != self.k:
            raise ValueError("quantile sketch merge: mismatched k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0))
            self._parity.append(0)
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._compact()
        return self

    # -- weighted-sample form (the stored / SQL-queryable contract) ----
    def to_arrays(self) -> "tuple[list[float], list[int]]":
        """``(values, weights)`` sorted by value, weights = 2**level —
        the flattened form :func:`sketch_quantile_expr` queries."""
        vals, wts = [], []
        for i, lv in enumerate(self.levels):
            vals.extend(lv.tolist())
            wts.extend([1 << i] * len(lv))
        order = np.argsort(np.asarray(vals), kind="stable")
        return ([float(vals[j]) for j in order],
                [int(wts[j]) for j in order])

    @classmethod
    def from_arrays(cls, values, weights, k: int = 200
                    ) -> "QuantileSketch":
        if len(values) != len(weights):
            raise ValueError(
                f"sketch arrays misaligned: {len(values)} values vs "
                f"{len(weights)} weights (zip would silently truncate)")
        sk = cls(k)
        by_level: dict[int, list] = {}
        for v, w in zip(values, weights):
            lvl = int(w).bit_length() - 1
            if (1 << lvl) != int(w):
                raise ValueError("sketch weights must be powers of two")
            by_level.setdefault(lvl, []).append(float(v))
        top = max(by_level, default=0)
        sk.levels = [np.asarray(by_level.get(i, []), dtype=np.float64)
                     for i in range(top + 1)]
        sk._parity = [0] * (top + 1)
        sk.n = int(sum(int(w) for w in weights))
        sk._compact()
        return sk

    def quantile(self, q: float) -> float:
        vals, wts = self.to_arrays()
        if not vals:
            raise ValueError("quantile of empty sketch")
        target = max(1, int(np.ceil(q * sum(wts))))
        cum = 0
        for v, w in zip(vals, wts):
            cum += w
            if cum >= target:
                return v
        return vals[-1]

    def rank(self, x: float) -> int:
        """Estimated number of inserted values <= x."""
        return sum(w for v, w in zip(*self.to_arrays()) if v <= x)


_SKETCH_SCHEMA = "values array<double>, weights array<long>, n long"


def quantile_sketch(df: DataFrame, col: str, k: int = 200
                    ) -> QuantileSketch:
    """Sketch a numeric column in one distributed pass: each Arrow batch
    reduces to one partial-sketch row (``<= 2k`` values), the bounded
    set of partials collects, and they merge driver-side — the
    ``pca_moments`` shape.  Driver state is O(k log n), never O(rows)."""
    def partials(batches: Iterator) -> Iterator:
        for b in batches:
            if not len(b):
                continue
            sk = QuantileSketch(k).update_batch(
                b[col].to_numpy(dtype=np.float64))
            vals, wts = sk.to_arrays()
            yield pd.DataFrame({"values": [vals], "weights": [wts],
                                "n": [sk.n]})

    rows = (df.select(F.col(col).cast("double").alias(col))
            .mapInPandas(partials, _SKETCH_SCHEMA).collect())
    out = QuantileSketch(k)
    for r in rows:
        out.merge(QuantileSketch.from_arrays(r.values, r.weights, k))
    return out


def grouped_quantile_sketch(df: DataFrame, keys: Sequence[str], col: str,
                            k: int = 200) -> DataFrame:
    """Per-key sketch rows ``keys..., values, weights, n`` — ONE shuffle
    on the group keys, sketch state per key is ``<= 2k`` values however
    many rows the key holds.  Store the result next to the table it
    summarizes; query with :func:`sketch_quantile_expr`; fold new data
    in with :func:`merge_sketch_rows` (never re-reading history)."""
    keys = list(keys)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = QuantileSketch(k).update_batch(
            pdf[col].to_numpy(dtype=np.float64))
        vals, wts = sk.to_arrays()
        head = {c: [pdf[c].iloc[0]] for c in keys}
        return pd.DataFrame({**head, "values": [vals],
                             "weights": [wts], "n": [sk.n]})

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields)
    return (df.select(*keys, F.col(col).cast("double").alias(col))
            .groupBy(*keys)
            .applyInPandas(build, f"{key_schema}, {_SKETCH_SCHEMA}"))


def merge_sketch_rows(a: DataFrame, b: DataFrame, keys: Sequence[str],
                      k: int = 200) -> DataFrame:
    """Merge two :func:`grouped_quantile_sketch` tables built with the
    same ``k``: union then per-key sketch merge — the O(delta)
    maintenance step for incrementally kept percentile tables."""
    keys = list(keys)

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        out = QuantileSketch(k)
        for _, row in pdf.iterrows():
            out.merge(QuantileSketch.from_arrays(
                row["values"], row["weights"], k))
        vals, wts = out.to_arrays()
        head = {c: [pdf[c].iloc[0]] for c in keys}
        return pd.DataFrame({**head, "values": [vals],
                             "weights": [wts], "n": [out.n]})

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in a.select(*keys).schema.fields)
    return (a.unionByName(b).groupBy(*keys)
            .applyInPandas(combine, f"{key_schema}, {_SKETCH_SCHEMA}"))


def sketch_quantile_expr(values, weights, q: float) -> Column:
    """JVM-side quantile of a STORED sketch row (``values`` sorted
    ascending, aligned ``weights`` — the :meth:`QuantileSketch.to_arrays`
    contract): smallest value whose cumulative weight reaches
    ``ceil(q * total)``.  One ``aggregate`` over the zipped arrays with
    a (cum, found, ans) struct accumulator — whole-stage codegen, no
    Python — so percentile tables read straight out of parquet."""
    v, w = _c(values), _c(weights)
    total = F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.ceil(F.lit(float(q)) * total.cast("double")).cast("long")
    target = F.greatest(target, F.lit(1).cast("long"))
    zipped = F.zip_with(v, w, lambda x, y: F.struct(
        x.alias("v"), y.alias("w")))
    init = F.struct(F.lit(0).cast("long").alias("cum"),
                    F.lit(False).alias("found"),
                    F.lit(None).cast("double").alias("ans"),
                    target.alias("tgt"))
    step = lambda acc, e: F.struct(  # noqa: E731
        (acc["cum"] + e["w"]).alias("cum"),
        (acc["found"] | (acc["cum"] + e["w"] >= acc["tgt"]))
        .alias("found"),
        F.when(~acc["found"] & (acc["cum"] + e["w"] >= acc["tgt"]),
               e["v"]).otherwise(acc["ans"]).alias("ans"),
        acc["tgt"].alias("tgt"))
    out = F.aggregate(zipped, init, step,
                      lambda acc: F.coalesce(acc["ans"],
                                             F.element_at(v, -1)))
    return out


def sketch_rank_expr(values, weights, x) -> Column:
    """JVM-side rank estimate from a stored sketch row: total weight of
    values ``<= x``."""
    v, w = _c(values), _c(weights)
    zipped = F.zip_with(v, w, lambda a, b: F.when(
        a <= F.lit(float(x)), b).otherwise(F.lit(0).cast("long")))
    return F.aggregate(zipped, F.lit(0).cast("long"), lambda a, b: a + b)


def _c(col) -> Column:
    return col if isinstance(col, Column) else F.col(col)


# ---------------------------------------------------------------------------
# Drift: Population Stability Index from sketch pairs
# ---------------------------------------------------------------------------

def psi(baseline: QuantileSketch, current: QuantileSketch,
        bins: int = 10, eps: float = 1e-4) -> float:
    """Population Stability Index between two sketched distributions —
    the standard model-monitoring drift score (rule of thumb: < 0.1
    stable, 0.1–0.25 drifting, > 0.25 shifted), computed ENTIRELY from
    the two sketches: bin edges are the baseline's ``bins``-quantiles
    and each side's bin mass comes from rank differences, so comparing
    a 100 TB training table against today's serving data costs two
    sketch reads, no exact histogram over either.

    ``eps`` floors the proportions (a bin empty on one side would make
    the log term infinite — the conventional guard).  Complements the
    corpus q137 token-KL drift (categorical) with the numeric-column
    face.
    """
    if baseline.n == 0 or current.n == 0:
        raise ValueError("psi: empty sketch")
    edges = [baseline.quantile(i / bins) for i in range(1, bins)]
    out = 0.0
    for i in range(bins):
        lo_rank_b = baseline.rank(edges[i - 1]) if i else 0
        lo_rank_c = current.rank(edges[i - 1]) if i else 0
        hi_rank_b = baseline.rank(edges[i]) if i < bins - 1 else baseline.n
        hi_rank_c = current.rank(edges[i]) if i < bins - 1 else current.n
        pa = max((hi_rank_b - lo_rank_b) / baseline.n, eps)
        pb = max((hi_rank_c - lo_rank_c) / current.n, eps)
        out += (pa - pb) * float(np.log(pa / pb))
    return out


def drift_profile(baseline: DataFrame, current: DataFrame,
                  cols: Sequence[str], k: int = 200,
                  bins: int = 10) -> "dict[str, float]":
    """Per-column PSI between two tables: one sketch pass per column on
    each side (bounded driver state — the ``quantile_sketch`` shape),
    then :func:`psi` on each pair.  The scheduled "did the feature
    distributions move" job of a training pipeline."""
    return {c: psi(quantile_sketch(baseline, c, k),
                   quantile_sketch(current, c, k), bins)
            for c in cols}


def psi_table(current: DataFrame, baseline: DataFrame,
              keys: Sequence[str], k: int = 200,
              bins: int = 10) -> DataFrame:
    """Per-KEY PSI between two :func:`grouped_quantile_sketch` tables
    (e.g. today's ``quantile_rollup_stream`` snapshot vs a frozen
    baseline snapshot): inner-join on the keys, compute :func:`psi`
    from the stored arrays per row inside ``applyInPandas`` — cost is
    O(groups × sketch), never a rescan of either corpus.  Returns
    ``keys..., n_baseline, n_current, psi``.  Keys present on only one
    side are dropped (a key with no baseline has no drift reference —
    pair with the CUSUM monitor's unknown-key alarm if that matters)."""
    keys = list(keys)
    b = baseline.select(*keys, F.col("values").alias("b_values"),
                        F.col("weights").alias("b_weights"),
                        F.col("n").alias("n_baseline"))
    c = current.select(*keys, F.col("values").alias("c_values"),
                       F.col("weights").alias("c_weights"),
                       F.col("n").alias("n_current"))
    j = b.join(c, keys)

    def compute(pdf):
        rows = []
        for _, r in pdf.iterrows():
            sb = QuantileSketch.from_arrays(r["b_values"],
                                            r["b_weights"], k)
            sc = QuantileSketch.from_arrays(r["c_values"],
                                            r["c_weights"], k)
            rows.append([r[c] for c in keys]
                        + [sb.n, sc.n, psi(sb, sc, bins)])
        return pd.DataFrame(
            rows, columns=keys + ["n_baseline", "n_current", "psi"])

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in baseline.select(*keys).schema.fields)
    return j.groupBy(*keys).applyInPandas(
        compute,
        f"{key_schema}, n_baseline long, n_current long, psi double")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k theta) distinct sketch
# ---------------------------------------------------------------------------
#
# The set-operation member of the mergeable-sketch family: HLL (streaming
# rollup) estimates distinct counts but cannot INTERSECT; a KMV sketch
# keeps the k smallest normalized hashes of a set, so the union of two
# sketches is exact sketch algebra (k smallest of the union = k smallest
# of the concatenated sketches) and intersections/Jaccard fall out of
# membership among the union's values — the theta-sketch trick.

_KMV_NORM = ("(cast(xxhash64({c}) as double) / 18446744073709551616.0"
             " + 0.5)")          # signed 64-bit hash -> uniform (0, 1)


def kmv_sketch(df: DataFrame, keys: Sequence[str], col: str,
               k: int = 256) -> DataFrame:
    """Per-``keys`` KMV distinct sketch of ``col``: one row per group
    with ``kmv`` = the ASCENDING array of the k minimum normalized
    hash values (fewer when the group has < k distinct values — then
    the sketch is EXACT).  Distinct estimate: ``size`` when < k, else
    ``(k-1)/kmv[k-1]`` (standard bottom-k estimator, relative error
    ~1/sqrt(k-2)).

    NULLs are excluded before hashing (``xxhash64(NULL)`` would hash to
    the seed constant and count as one phantom distinct value) —
    matching ``countDistinct`` semantics.

    Plan shape: one hash-aggregate to distinct (keys, hash) — map-side
    combine does the heavy dedup — then a TWO-LEVEL rank: first inside
    (keys, pmod-bucket), then the survivors (<= 32k per key) per keys.
    A single per-key window would funnel EVERY distinct hash of a hot
    key through one sorted task — the key-cardinality ceiling the
    keyed-scan family exists to avoid; the pre-rank caps any task at
    ~distinct/32 rows.  Every stage bounded, no collect_set of
    unbounded distinct sets ever sits in one executor's aggregation
    buffer."""
    from pyspark.sql import Window

    h = F.expr(_KMV_NORM.format(c=col))
    # F.expr, not F.col: ``col`` accepts SQL expression strings (e.g.
    # ``upper(x)``), which F.col would mis-resolve as a column name
    d = (df.where(F.expr(f"({col}) is not null"))
         .select(*keys, h.alias("__h"))
         .groupBy(*keys, "__h").agg(F.lit(1).alias("__one")))
    wb = Window.partitionBy(*keys, "__b").orderBy("__h")
    pre = (d.withColumn("__b", F.pmod(F.hash("__h"), F.lit(32)))
           .withColumn("__rb", F.row_number().over(wb))
           .where(F.col("__rb") <= k))
    w = Window.partitionBy(*keys).orderBy("__h")
    topk = pre.withColumn("__rn", F.row_number().over(w)) \
              .where(F.col("__rn") <= k)
    return (topk.groupBy(*keys)
            .agg(F.array_sort(F.collect_list("__h")).alias("kmv")))


def merge_kmv_rows(a: DataFrame, b: DataFrame, keys: Sequence[str],
                   k: int = 256) -> DataFrame:
    """Union-merge per-key KMV rows (same ``k``): k smallest of the
    concatenation — EXACTLY the sketch of the union (one-sided keys
    pass through).  The O(delta) maintenance path, like cm_merge."""
    keys = list(keys)
    bb = b.select(*keys, F.col("kmv").alias("__kb"))
    j = a.join(bb, keys, "full")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat(
            F.coalesce(F.col("kmv"), F.array()),
            F.coalesce(F.col("__kb"), F.array())))), 1, k)
    return j.select(*keys, merged.alias("kmv"))


def kmv_estimate_expr(kmv, k: int = 256) -> Column:
    """Distinct-count estimate from a ``kmv`` array column: exact size
    below k, else (k-1)/theta with theta = the k-th minimum."""
    kmv = _c(kmv)
    return F.when(F.size(kmv) < k, F.size(kmv).cast("double")) \
            .otherwise((F.lit(float(k - 1))
                        / F.element_at(kmv, k)))


def kmv_jaccard_expr(a, b, k: int = 256) -> Column:
    """Jaccard similarity estimate of two same-``k`` KMV arrays: among
    the union sketch's values (k smallest of both, below the shared
    theta), the fraction present in BOTH input sketches — the theta-
    sketch intersection estimator.  Multiply by the union estimate
    (:func:`kmv_estimate_expr` of the merged array) for |A ∩ B|."""
    a, b = _c(a), _c(b)
    u = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    # shared threshold: only values below BOTH sketches' thetas (and the
    # union's) are comparable membership samples
    theta = F.least(
        F.element_at(a, F.size(a)), F.element_at(b, F.size(b)),
        F.element_at(u, F.size(u)))
    below = F.filter(u, lambda v: v <= theta)
    inter = F.size(F.filter(below, lambda v: F.array_contains(a, v)
                            & F.array_contains(b, v)))
    return (inter.cast("double")
            / F.greatest(F.size(below), F.lit(1)).cast("double"))
