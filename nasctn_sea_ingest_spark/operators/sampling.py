"""Deterministic sampling and splitting for training-data pipelines.

A 100 TB corpus job needs reproducible subsetting: train/val/test splits
that never leak rows between runs, per-source mixture weights for data
mixing, and downsampling that two engines (or two reruns) agree on
row-for-row. Spark's ``sample()``/``randomSplit()`` are seed-stable only
for a fixed partitioning — a repartition or a second cluster reshuffles
the outcome. Everything here instead derives the decision from a hash of
a stable key column, so membership is a pure function of the DATA:

- portable across engines (md5 is md5 everywhere — the corpus queries
  oracle-check these against DuckDB),
- stable under repartitioning, AQE re-plans, and incremental appends
  (a new file's rows don't change old rows' membership),
- map-only: a scalar predicate in the scan, no shuffle, fully pushed
  into whole-stage codegen.

The hash bucket is ``conv(substr(md5(key), 1, 15), 16, 10) % 10_000``
(60 bits → signed BIGINT, ANSI-safe) — uniform to ~1e-4 granularity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = ["hash_bucket", "deterministic_sample", "hash_split",
           "weighted_mixture", "upsample", "stratified_sample",
           "seeded_shuffle", "balanced_sample", "leakage_safe_split",
           "hashed_gram_buckets", "dsir_log_ratio", "dsir_weights",
           "dsir_resample", "token_budget_mixture"]

N_BUCKETS = 10_000


def hash_bucket(key_col, salt: str = "") -> Column:
    """Uniform bucket in [0, 10000) from a stable key (+ optional salt —
    different salts give independent draws from the same keys)."""
    key = F.concat(F.col(key_col).cast("string"), F.lit(salt))
    return (F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
             .cast("bigint") % N_BUCKETS)


def deterministic_sample(df: DataFrame, fraction: float, key_col: str,
                         salt: str = "") -> DataFrame:
    """Keep ``fraction`` of rows, chosen by key hash — reproducible across
    runs, engines, and partitionings (unlike ``df.sample``)."""
    return df.where(hash_bucket(key_col, salt)
                    < int(round(fraction * N_BUCKETS)))


def hash_split(df: DataFrame, weights: "dict[str, float]", key_col: str,
               salt: str = "") -> DataFrame:
    """Disjoint, exhaustive split (train/val/test ...): adds a ``split``
    column from contiguous hash-bucket ranges sized by ``weights``
    (normalized). Rows with the same key always land in the same split —
    the leakage-proof property ``randomSplit`` cannot give across runs."""
    total = sum(weights.values())
    expr: Column | None = None
    edge = 0.0
    items = list(weights.items())
    b = hash_bucket(key_col, salt)
    for name, w in items[:-1]:
        edge += w / total * N_BUCKETS
        cond = b < int(round(edge))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def weighted_mixture(df: DataFrame, rates: "dict[str, float]",
                     source_col: str, key_col: str,
                     salt: str = "") -> DataFrame:
    """Data mixing: per-source keep rates. Rates > 1.0 up-sample (repeat
    epochs, ``upsample`` semantics); rates < 1.0 down-sample by key hash.
    Sources absent from ``rates`` are dropped — the usual allowlist
    semantics of a mixture spec. An ``epoch`` column (0-based copy index)
    marks repeats so downstream shuffles can spread them."""
    b = hash_bucket(key_col, salt)
    n_copies = None   # integer copies owed to each row, incl. fractional tail
    for src, rate in rates.items():
        whole = int(rate)
        frac = rate - whole
        n = F.lit(whole) + (b < int(round(frac * N_BUCKETS))).cast("int")
        cond = F.col(source_col) == src
        n_copies = F.when(cond, n) if n_copies is None \
            else n_copies.when(cond, n)
    n_copies = F.lit(0) if n_copies is None else n_copies.otherwise(0)
    out = df.withColumn("_n_copies", n_copies) \
            .where(F.col("_n_copies") > 0)
    return (out.withColumn(
                "epoch",
                F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
               .drop("_n_copies"))


def stratified_sample(df: DataFrame, fractions: "dict[str, float]",
                      stratum_col: str, key_col: str, salt: str = "",
                      default: float | None = None) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` without its
    partitioning/seed instability): keep ``fractions[stratum]`` of each
    stratum's rows, chosen by key hash. Strata absent from ``fractions``
    keep ``default`` (dropped entirely when ``default`` is None).

    Map-only — the whole decision is one scalar predicate in the scan, so
    at 100 TB it costs a single pass with full codegen and no shuffle,
    and membership never changes across reruns/appends (the rebalancing
    primitive an LLM-corpus language/source mix is built from)."""
    b = hash_bucket(key_col, salt)
    cut = None
    for stratum, frac in fractions.items():
        cond = F.col(stratum_col) == stratum
        lim = F.lit(int(round(frac * N_BUCKETS)))
        cut = F.when(cond, lim) if cut is None else cut.when(cond, lim)
    fallback = F.lit(-1 if default is None
                     else int(round(default * N_BUCKETS)))
    cut = fallback if cut is None else cut.otherwise(fallback)
    return df.where(b < cut)


def seeded_shuffle(df: DataFrame, key_col: str, seed: str = "0",
                   position: bool = True) -> DataFrame:
    """Deterministic global training order: sort by ``md5(seed || key)``.

    Reproduces bit-identically across engines, cluster sizes, and input
    partitionings — unlike ``orderBy(rand(seed))``, whose draw depends on
    partition layout. With ``position=True`` adds a 0-based ``position``
    column (exact global rank of the draw; output order is unspecified —
    ``.orderBy("position")`` when materializing ordered shards).

    ``key_col`` must be UNIQUE per row (it is the row's identity in the
    permutation): duplicate keys share one draw, and their relative
    order/positions degrade to an arbitrary tie-break.

    Scale note: ``position=False`` is a plain range-partitioned global
    sort (single pass; the usual 100 TB deployment writes the sorted
    shards straight out). ``position=True`` computes the exact global
    rank scale-safely with DATA-DERIVED buckets (the draw's hex prefix):
    per-bucket rank windows plus a ≤4096-row broadcast offset frame,
    never a single-task global Window, and no dependence on physical
    partitioning or sampled range bounds — recomputation of any branch
    reproduces identical buckets. Exact positions cost a second pass
    over the input for the bucket counts (the same 2-job cost as RDD
    ``zipWithIndex``); ``.persist()`` the input to make it a cache read.
    """
    h = F.md5(F.concat(F.lit(seed), F.lit("|"),
                       F.col(key_col).cast("string")))
    out = df.withColumn("_shuffle_key", h)
    if not position:
        return out.orderBy("_shuffle_key").drop("_shuffle_key")
    # Scale-safe global rank (no single-task Window over the whole table):
    # bucket by the draw's first 3 hex chars — a PURE FUNCTION of the data
    # whose integer value is also the buckets' sort order (hex prefixes
    # are lexicographic), so local rank within bucket + cumulative bucket
    # counts compose into the exact global rank. Nothing depends on
    # physical layout (no spark_partition_id, no sampled range bounds):
    # any recomputation of either branch reproduces identical buckets, so
    # the plan is correct even when exchange reuse doesn't fire. The
    # offset frame is ≤4096 rows — its global window and the broadcast
    # join back are trivially small; the md5 draw makes bucket sizes
    # uniform (~n/4096), so the per-bucket rank windows are balanced.
    from pyspark.sql import Window
    pid = F.conv(F.substring("_shuffle_key", 1, 3), 16, 10).cast("int")
    ranked = (out.withColumn("_pid", pid)
                 .withColumn("_local", F.row_number().over(
                     Window.partitionBy("_pid").orderBy("_shuffle_key"))))
    pc = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    off = pc.withColumn(
        "_offset",
        F.coalesce(F.sum("_n").over(
            Window.orderBy("_pid")
                  .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    return (ranked.join(F.broadcast(off.select("_pid", "_offset")), "_pid")
                  .withColumn("position",
                              (F.col("_local") - 1 + F.col("_offset"))
                              .cast("bigint"))
                  .drop("_pid", "_local", "_offset", "_shuffle_key"))


def upsample(df: DataFrame, rate: float, key_col: str,
             salt: str = "") -> DataFrame:
    """Repeat every row ``floor(rate)`` times plus one more for the
    hash-chosen fractional share (rate 2.5 → every row twice, half the
    keys a third time). Deterministic; adds a 0-based ``epoch`` column."""
    whole = int(rate)
    frac = rate - whole
    n = F.lit(whole) + (hash_bucket(key_col, salt)
                        < int(round(frac * N_BUCKETS))).cast("int")
    return (df.withColumn("_n", n).where(F.col("_n") > 0)
              .withColumn("epoch",
                          F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
              .drop("_n"))


def balanced_sample(df: DataFrame, n_per_stratum: int, stratum_col: str,
                    key_col: str, salt: str = "") -> DataFrame:
    """Deterministic balanced sample: at most ``n_per_stratum`` rows per
    stratum, chosen by md5 rank of the key (+ salt) — the class-balanced
    eval-set builder. Unlike a fraction-based stratified sample, the
    per-class COUNT is exact, reproducible across runs/engines, and new
    rows only displace at the rank boundary.

    Scale shape: one shuffle on the stratum key; Spark's rank-limit
    pushdown (WindowGroupLimit) keeps only each task's local top-n before
    the exchange, so the shuffle carries O(tasks × n) rows, not the
    corpus. Skewed strata are bounded identically. Oracle-checked as
    corpus q106.

    Rows with a NULL key are excluded: they have no identity to rank by
    (every NULL row would tie, making the selection partitioning-
    dependent — the opposite of this function's contract).
    """
    from pyspark.sql import Window
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col))
    return (df.where(F.col(key_col).isNotNull())
              .withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") <= int(n_per_stratum)).drop("__rk"))


def leakage_safe_split(df: DataFrame, pairs: DataFrame, key_col: str,
                       weights: "dict[str, float]", salt: str = "",
                       d1: str = "d1", d2: str = "d2") -> DataFrame:
    """Train/val/test split that keeps every NEAR-DUP CLUSTER on one
    side: :func:`hash_split` assigns same-key rows together, but two
    near-duplicate documents have different keys — splitting them apart
    leaks training text into eval (the contamination the
    decontamination gate (q74) exists to catch, created by the split
    itself).  Here the split key is the duplicate-cluster representative
    (``dedup.dup_clusters`` over the candidate ``pairs`` — LSH/simhash/
    cosine edges), falling back to the row's own key for singletons, so
    whole clusters move as one unit and un-paired documents split
    individually.

    Scale shape: clusters = ``graph.star_components`` over the PAIRS
    (``dup_clusters`` is that operator: a driver union-find while the
    pair list fits its size gate, else O(log n) large-star/small-star
    rounds — bounded by candidate count, not corpus size), then ONE
    broadcast-or-shuffle left join back to the corpus and the same
    map-side hash predicate as hash_split.  Deterministic: membership
    is a pure function of (pair graph, key bytes, salt).
    """
    from .dedup import dup_clusters

    clusters = dup_clusters(pairs, d1=d1, d2=d2) \
        .withColumnRenamed("node", key_col)
    out = (df.join(clusters, key_col, "left")
           .withColumn("__skey",
                       F.coalesce(F.col("cluster").cast("string"),
                                  F.col(key_col).cast("string"))))
    return hash_split(out, weights, "__skey", salt) \
        .drop("__skey", "cluster")


# --------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# --------------------------------------------------------------------------

def hashed_gram_buckets(text_col, n_buckets: int = 10_000) -> Column:
    """Hashed uni+bigram feature buckets of a document — the DSIR
    feature map: every word and every adjacent word pair hashes to one
    of ``n_buckets`` (xxhash64, engine-native), giving a fixed-width
    bag-of-features no matter the vocabulary.  Returns ``array<int>``
    with one element per gram occurrence (duplicates kept — the
    multinomial counts ARE the feature)."""
    c = text_col if isinstance(text_col, Column) else F.col(text_col)
    words = F.filter(F.split(F.lower(F.trim(c)), r"\s+"),
                     lambda x: x != "")

    def bucket(g):
        return F.pmod(F.xxhash64(g), F.lit(n_buckets)).cast("int")

    def body(w):
        n1 = F.greatest(F.size(w) - 1, F.lit(0))
        uni = F.transform(w, bucket)
        bi = F.zip_with(
            F.slice(w, 1, n1), F.slice(w, 2, n1),
            lambda a, b: bucket(F.concat(a, F.lit(" "), b)))
        return F.concat(uni, bi)

    # bind the split once (the q84 _let lesson: size+slice+transform
    # would re-evaluate the regex split per reference)
    return F.element_at(F.transform(F.array(words), body), 1)


def dsir_log_ratio(target: DataFrame, raw: DataFrame,
                   text_col: str = "text", n_buckets: int = 10_000,
                   smoothing: float = 1.0
                   ) -> "tuple[DataFrame, float]":
    """Per-bucket importance log-ratio ``ln p_target(b) - ln p_raw(b)``
    with Laplace smoothing — the trained half of DSIR (Xie et al. 2023,
    *Data Selection for Language Models via Importance Resampling*):
    fit two hashed-n-gram multinomials and keep their log-ratio table.

    Returns ``(ratio_df(bucket, log_ratio), default_log_ratio)`` where
    the default applies to buckets unseen in BOTH corpora (a constant —
    computed here so scoring needs no special-casing).  The table is
    ≤ ``n_buckets`` rows — always broadcastable, the whole point of
    hashing the feature space."""
    def counts(df, name):
        return (df.select(F.explode(
            hashed_gram_buckets(text_col, n_buckets)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias(name)))

    t = counts(target, "t_cnt")
    r = counts(raw, "r_cnt")
    import math
    t_total = t.agg(F.sum("t_cnt")).first()[0] or 0
    r_total = r.agg(F.sum("r_cnt")).first()[0] or 0
    td = t_total + smoothing * n_buckets
    rd = r_total + smoothing * n_buckets
    j = t.join(r, "bucket", "full_outer")
    z = F.lit(0).cast("long")
    ratio = j.select(
        "bucket",
        (F.log((F.coalesce("t_cnt", z) + smoothing) / F.lit(float(td)))
         - F.log((F.coalesce("r_cnt", z) + smoothing)
                 / F.lit(float(rd)))).alias("log_ratio"))
    default = math.log(smoothing / td) - math.log(smoothing / rd)
    return ratio, float(default)


def dsir_weights(docs: DataFrame, ratio: DataFrame,
                 default_log_ratio: float, text_col: str = "text",
                 id_col: str = "doc_id",
                 n_buckets: int = 10_000) -> DataFrame:
    """Per-document importance log-weight: the sum over the doc's gram
    occurrences of the bucket log-ratio (the multinomial likelihood
    ratio in log space).  One explode + one BROADCAST join against the
    ≤ n_buckets ratio table + one hash-agg on the id — no corpus-sized
    shuffle beyond the doc grouping.  Returns ``(id_col, n_grams,
    log_weight, avg_log_ratio)`` (the avg is the length-normalized
    variant some pipelines prefer)."""
    grams = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(hashed_gram_buckets(text_col, n_buckets))
        .alias("bucket"))
    j = grams.join(F.broadcast(ratio), "bucket", "left")
    lr = F.coalesce(F.col("log_ratio"), F.lit(float(default_log_ratio)))
    return (j.groupBy("__id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(lr).alias("log_weight"),
                 F.avg(lr).alias("avg_log_ratio"))
            .withColumnRenamed("__id", id_col))


def dsir_resample(weighted: DataFrame, n: int, key_col: str = "doc_id",
                  weight_col: str = "log_weight",
                  salt: str = "") -> DataFrame:
    """Sample ``n`` rows without replacement with probability ∝
    exp(weight) via Gumbel-top-n — the log-space twin of the q146
    Efraimidis-Spirakis sampler (identical distribution; Gumbel keys
    add in log space so huge corpora with huge |log_weight| never
    overflow exp()).  The Gumbel draw comes from the engine's portable
    md5 uniform, so the sample is deterministic given (data, salt) on
    any engine.  Plan: map-side key + TakeOrdered(n) — no corpus
    sort."""
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"),
                       F.col(key_col).cast("string"))), 1, 15), 16, 10)
        .cast("double") + 1.0) / float(16 ** 15))
    gumbel = -F.log(-F.log(u))
    return (weighted
            .withColumn("__k", F.col(weight_col) + gumbel)
            .orderBy(F.desc("__k"), F.asc(key_col)).limit(n)
            .drop("__k"))


def token_budget_mixture(df: DataFrame, budgets: "dict[str, int]",
                         domain_col: str, tokens_col: str,
                         key_col: str, salt: str = "") -> DataFrame:
    """Deterministic token-budgeted corpus mix: per domain, take
    documents in md5-rank order (a stable shuffle — every engine and
    every rerun picks the same docs) until the domain's TOKEN budget is
    met, overshooting by at most one document (the standard greedy
    fill; exact budgets need document splitting, which belongs to the
    packing stage).  Domains absent from ``budgets`` are dropped.

    This is the pretraining-mix builder (e.g. "300B web + 30B code +
    3B wiki"): rate-based :func:`weighted_mixture` samples by ROW
    probability, which drifts when domains have different document
    lengths; budgeting tokens is what the recipe actually specifies.

    Plan: one window per domain partition (rank + running token sum on
    the same partitioning — a single shuffle on the domain), then a
    row-local filter ``cum - tokens < budget``.  A domain's budget
    larger than its corpus keeps every row."""
    order = F.md5(F.concat(F.lit(salt), F.lit("|"),
                           F.col(key_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(order, key_col)
    bmap = F.create_map(*[x for kv in budgets.items()
                          for x in (F.lit(kv[0]),
                                    F.lit(int(kv[1])))])
    cum = F.sum(F.col(tokens_col)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (df.withColumn("__budget", bmap[F.col(domain_col)])
           .where(F.col("__budget").isNotNull())
           .withColumn("__cum", cum)
           .where(F.col("__cum") - F.col(tokens_col) < F.col("__budget"))
           .drop("__budget", "__cum"))
    return out
