"""Deduplication operators for document corpora: exact, n-gram Jaccard,
MinHash + LSH banding, SimHash. The library (hash-based) variants here are
the production/scale path; the corpus queries in ``plans.corpus_docs`` keep
dense-rank token ids so DuckDB can oracle them bit-for-bit.

Scale notes (100 TB): every pairwise stage goes through a *candidate*
generator (LSH band buckets / simhash equality) before any exact measure —
no all-pairs joins. The shingle self-join shuffles on the shingle hash;
ultra-frequent shingles are dropped first (``max_doc_freq``) to bound skew,
the same reason stop-words get dropped in IR pipelines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .graph import link_scores, star_components

__all__ = [
    "exact_duplicates", "drop_exact_duplicates", "shingle",
    "jaccard_pairs", "minhash_signatures", "lsh_candidates",
    "minhash_dedup_candidates", "simhash64", "simhash_pairs",
    "dup_clusters", "drop_near_duplicates",
    "band_buckets", "minhash_signature_expr", "minhash_band_index",
    "prune_hub_edges",
]

# 2^31 - 1: keeps h * multiplier + offset far inside int64 under ANSI mode
_MERSENNE = (1 << 31) - 1


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content hash, representative =
    min id, n_copies). Single hash-groupBy shuffle."""
    return (df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
              .agg(F.min(id_col).alias("rep_id"),
                   F.count("*").alias("n_copies")))


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.
    One window over the content hash — no join back."""
    from pyspark.sql import Window
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))


def _gram_stream(df: DataFrame, text_col: str, id_col: str,
                 n: int, spread: bool | None = None) -> DataFrame:
    """Exploded word n-gram stream (id, shingle), not deduplicated.

    Grams come from ``arrays_zip`` of ``n`` shifted slices of the token
    array, exploded, then a struct-field concat. The naive per-gram lambda
    (``transform(sequence(...), i -> concat(element_at(w, i), ...))``)
    reads clean but CollapseProject inlines the ``split()`` into every
    ``element_at`` reference — O(words) regex re-splits per GRAM, ~40 µs/
    gram measured. The zip-of-slices form references the token array once
    per slice per ROW, and everything after the explode is plain
    codegen'd column ops (~1 µs/gram, 10×+ on the dedup corpus queries).

    ``spread``: repartition the (id, tokens) rows before exploding, to
    spread the gram work across cores when the input is a single small
    parquet file. Default ``None`` = automatic: only when the input has
    fewer partitions than the cluster has slots (a big corpus already has
    plenty of input splits, and an unconditional repartition would shuffle
    the token arrays — ~corpus size — for nothing); the partition count
    follows ``spark.sql.shuffle.partitions`` so AQE/cluster config governs
    it. Pass ``False`` to guarantee a map-side pipeline (decontamination's
    broadcast path does).
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = df.select(F.col(id_col).alias("id"), w.alias("w"))
    sess = df.sparkSession
    if spread is None:
        spread = (df.rdd.getNumPartitions()
                  < sess.sparkContext.defaultParallelism)
    if spread:
        nparts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
        toks = toks.repartition(nparts, "id")
    n_grams = F.greatest(F.size("w") - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice("w", j + 1, n_grams) for j in range(n)])
    gram = F.concat_ws(" ", *[F.col(f"s.{j}") for j in range(n)])
    return (toks.select("id", F.explode(z).alias("s"))
                .select("id", gram.alias("shingle")))


def shingle(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n: int = 3, spread: bool | None = None) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    return _gram_stream(df, text_col, id_col, n, spread=spread).distinct()


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  threshold: float = 0.5,
                  max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.
    ``max_doc_freq`` drops stop-shingles (appearing in more documents than
    the bound) before the self-join — the skew guard at scale."""
    sh = shingle(df, text_col, id_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (sh.join(freq.where(F.col("df") <= max_doc_freq)
                      .select("shingle"), "shingle"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
             .agg(F.count("*").alias("inter")))
    j = (inter
         .join(sizes.select(F.col("id").alias("d1"),
                            F.col("n_sh").alias("n1")), "d1")
         .join(sizes.select(F.col("id").alias("d2"),
                            F.col("n_sh").alias("n2")), "d2")
         .withColumn("jaccard", F.col("inter")
                     / (F.col("n1") + F.col("n2") - F.col("inter"))))
    return j.where(F.col("jaccard") >= threshold) \
            .select("d1", "d2", "jaccard")


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       n_hashes: int = 32) -> DataFrame:
    """MinHash signatures from xxhash64 shingle hashes under ``n_hashes``
    universal-hash draws — no global token dictionary, no sort: the scale
    path (the oracle-checked corpus variant uses dense ranks instead).
    Output: (id, sig ARRAY<BIGINT> length n_hashes).

    The shingle stream is NOT deduplicated first: duplicate shingles can't
    change a min, and skipping the distinct removes one full shuffle (the
    32 min-aggs partial-aggregate map-side, so the exchange still carries
    one row per doc). An all-array-expression variant (array_min over
    nested transforms, zero shuffle) measured 4× SLOWER — higher-order
    expressions are interpreted, while explode + hash-aggregate runs in
    whole-stage codegen; the shuffle is not the bottleneck, the hashing
    is."""
    sh = _gram_stream(df, text_col, id_col, n)
    h = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE))
    mins = [F.min(F.pmod(h * F.lit(2 * j + 1) + F.lit(101 * j + 17),
                         F.lit(_MERSENNE))).alias(f"h{j}")
            for j in range(n_hashes)]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{j}"
                                      for j in range(n_hashes)]).alias("sig"))


def band_buckets(sigs: DataFrame, n_bands: int = 8,
                 id_col: str = "id", sig_col: str = "sig",
                 carry: "list[str] | None" = None) -> DataFrame:
    """Signatures → one row per LSH band: (id, band, bucket[, carry...]).
    The bucket is a hash of the band's signature slice — the equi-join key
    that replaces all-pairs comparison. Stateless (explode + hash), so it
    runs identically on batch and streaming frames."""
    carry = carry or []
    banded = sigs.select(
        F.col(id_col).alias("id"), *carry,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda bnd: F.struct(
                bnd.alias("band"),
                F.slice(F.col(sig_col),
                        bnd * (F.size(sig_col) / n_bands).cast("int") + 1,
                        (F.size(sig_col) / n_bands).cast("int"))
                .alias("chunk")))).alias("b"))
    return banded.select("id", *carry, F.col("b.band").alias("band"),
                         F.hash("b.chunk").alias("bucket"))


def lsh_candidates(sigs: DataFrame, n_bands: int = 8) -> DataFrame:
    """LSH banding: split each signature into ``n_bands`` bands, bucket-join
    per band, union candidates. Shuffles on (band, band-hash) — uniform keys,
    no all-pairs blowup."""
    banded = band_buckets(sigs, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
             .distinct())


def minhash_signature_expr(text_col: str = "text", n: int = 3,
                           n_hashes: int = 32):
    """MinHash signature as a pure COLUMN EXPRESSION (array<bigint> length
    ``n_hashes``; null-element signature when the text has no n-gram).

    Bit-identical to ``minhash_signatures`` (same xxhash64 + universal-
    hash family — pinned by ``test_minhash_signature_expr_parity``), but
    with no explode and no aggregation, so it runs where stateful shapes
    can't: per-row in a STREAMING select (the batch form needs a groupBy,
    which append-mode streams disallow without watermark aggregation).
    On batch frames prefer ``minhash_signatures`` — the explode +
    hash-aggregate runs in whole-stage codegen and measured ~4× faster
    than higher-order-lambda evaluation; this form trades that for
    statelessness."""
    from ..functions import _let
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n_grams = F.greatest(F.size(w) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, j + 1, n_grams) for j in range(n)])
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))

    def _mh(j):
        return lambda g: F.array_min(F.transform(
            g, lambda s: F.pmod(
                F.pmod(F.xxhash64(s), F.lit(_MERSENNE)) * F.lit(2 * j + 1)
                + F.lit(101 * j + 17), F.lit(_MERSENNE))))

    return _let(grams,
                lambda g: F.array(*[_mh(j)(g) for j in range(n_hashes)]))


def minhash_dedup_candidates(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 3,
                             n_hashes: int = 32,
                             n_bands: int = 8) -> DataFrame:
    """End-to-end MinHash-LSH near-dup candidates: shingle → signature →
    band buckets → pairs."""
    return lsh_candidates(
        minhash_signatures(df, text_col, id_col, n, n_hashes), n_bands)


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit frequency-weighted SimHash per document: bit j is set when the
    weighted sum of token-hash bit j is positive. Two shuffles (token counts,
    per-doc bit sums)."""
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
                      .alias("tok"))
              .groupBy("id", "tok").agg(F.count("*").alias("cnt")))
    h = F.xxhash64("tok")
    # bit 63 exceeds a positive long literal — build bit masks with shiftleft
    def bit(j):
        return F.shiftleft(F.lit(1).cast("long"), j)
    bit_terms = [
        F.sum(F.when(h.bitwiseAND(bit(j)) != 0, F.col("cnt"))
               .otherwise(-F.col("cnt"))).alias(f"s{j}")
        for j in range(64)]
    sums = toks.groupBy("id").agg(*bit_terms)
    sig = None
    for j in range(64):
        term = F.when(F.col(f"s{j}") > 0, bit(j)).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return sums.select("id", sig.alias("simhash"))


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Candidates come from
    16-bit chunk equality (pigeonhole: ≤3 differing bits over 4 chunks ⇒
    some chunk identical) — bucket joins, not an all-pairs scan.

    ``max_bucket`` bounds the output at adversarial duplicate density:
    the pair count inside one (chunk_no, chunk) bucket is O(|bucket|²) —
    inherent to pair enumeration, measured in SCALE.md §9 (a 16×
    all-copies corpus emits 260× the pairs). Buckets larger than
    ``max_bucket`` are dropped before the self-join. This is RECALL
    TRADED FOR A BOUND, like every stop-key guard: a pair whose only
    shared chunk is an over-full bucket is lost — mostly pairs inside a
    mega-cluster (downstream clustering collapses those from any edge
    sample anyway), but also the occasional outsider whose sole
    collision chunk is the hot one. Size ``max_bucket`` well above the
    expected duplicate-cluster size so only pathological buckets
    trigger. Same contract as ``jaccard_pairs(max_doc_freq=...)``'s
    stop-shingle guard."""
    chunks = sigs.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_no"),
                     F.shiftrightunsigned("simhash", 16 * c)
                      .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for c in range(4)])).alias("c")) \
        .select("id", "simhash", "c.chunk_no", "c.chunk")
    if max_bucket is not None:
        big = (chunks.groupBy("chunk_no", "chunk")
                     .agg(F.count("*").alias("bn"))
                     .where(F.col("bn") > max_bucket)
                     .select("chunk_no", "chunk"))
        chunks = chunks.join(F.broadcast(big), ["chunk_no", "chunk"],
                             "left_anti")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk_no") == F.col("b.chunk_no"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"),
                     F.col("a.simhash").alias("s1"),
                     F.col("b.simhash").alias("s2"))
             .distinct())
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (cand.withColumn("hamming", ham)
                .where(F.col("hamming") <= max_hamming)
                .select("d1", "d2", "hamming"))


def dup_clusters(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                 local_graph_rows: int = 200_000) -> DataFrame:
    """Connected components over near-dup PAIRS → dedup CLUSTERS.

    Candidate generators (LSH bands, simhash buckets, cosine blocks) emit
    pairwise edges; keeping "one doc per duplicate *group*" needs the
    transitive closure — A~B, B~C ⇒ {A,B,C} is one cluster even if (A,C)
    never collided.  Returns (node, cluster): every id that appears in
    any pair, labeled with its component's min id (the cluster
    representative).

    This is :func:`graph.star_components` under the dedup name: O(log n)
    rounds whatever the component diameter, so CDC revision chains
    (A~B~C~... where only consecutive revisions pair) merge as fully as
    near-dup cliques, and candidate graphs under ``local_graph_rows``
    run its driver union-find kernel (``0`` forces the distributed
    loop).  Not SQL-expressible without recursion — library-tested
    against pure-Python union-find.
    """
    return star_components(pairs, d1, d2,
                           local_graph_rows=local_graph_rows)


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id", d1: str = "d1",
                         d2: str = "d2") -> DataFrame:
    """Keep one representative (min id) per near-dup cluster, plus every
    document that never paired. The end-to-end dedup shape: candidates →
    clusters → anti-join the non-representatives out."""
    clusters = dup_clusters(pairs, d1, d2)
    losers = clusters.where(F.col("node") != F.col("cluster")) \
                     .select(F.col("node").alias(id_col))
    return df.join(F.broadcast(losers), id_col, "left_anti")


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       n_hashes: int = 32, n_bands: int = 8) -> DataFrame:
    """Static LSH band index of a corpus: (id, band, bucket) — the
    queryable form a continuous-ingest deployment stores (written
    ``partitionBy(band)`` or bucketed by (band, bucket) so stream-side
    probes prune). Built with the batch signature path; streaming probes
    against it with the expression path (same hash family, so buckets
    align — ``streaming.neardup_stream``).

    The ``bucket`` column carries the build parameters as column
    metadata (survives the parquet round-trip): a probe computing
    signatures with DIFFERENT (n, n_hashes, n_bands) would hash into
    buckets this index never wrote and silently match nothing —
    ``neardup_stream`` validates the stamp and raises instead."""
    out = band_buckets(
        minhash_signatures(df, text_col, id_col, n, n_hashes), n_bands)
    meta = {"minhash_n": int(n), "minhash_hashes": int(n_hashes),
            "minhash_bands": int(n_bands)}
    return out.withColumn(
        "bucket", F.col("bucket").alias("bucket", metadata=meta))


def _delete_variants(text_col: str, k: int) -> F.Column:
    """All strings reachable from ``text_col`` by deleting UP TO ``k``
    characters (the string itself included), deduplicated — the
    symmetric-delete (SymSpell) blocking key set, built JVM-side with
    higher-order array functions (no Python in the hot path).  Size is
    <= 1 + L + L(L-1)/2 variants for k=2 on length-L strings: this
    blocking is for SHORT strings (names, codes, titles), where it
    replaces the O(N²) edit-distance join with an equi-join."""
    c = text_col
    d1 = (f"transform(sequence(1, length({c})), i -> "
          f"concat(substring({c}, 1, i - 1), "
          f"substring({c}, i + 1, length({c}) - i)))")
    if k == 1:
        return F.expr(f"array_distinct(array_union(array({c}), {d1}))")
    # k == 2: deletes of the delete-1 variants, flattened
    d2 = (f"flatten(transform({d1}, v -> "
          "transform(sequence(1, length(v)), i -> "
          "concat(substring(v, 1, i - 1), "
          "substring(v, i + 1, length(v) - i)))))")
    return F.expr(
        f"array_distinct(array_union(array_union(array({c}), {d1}), {d2}))")


def edit_distance_pairs(df: DataFrame, id_col: str = "id",
                        text_col: str = "text", max_distance: int = 1,
                        max_bucket: int | None = 1000) -> DataFrame:
    """All pairs within Levenshtein distance ``max_distance`` (1 or 2),
    as ``(id1, id2, dist)`` with ``id1 < id2`` — the fuzzy-match /
    entity-resolution join, candidate-bound via symmetric-delete
    blocking instead of the O(N²) cross join a naive
    ``levenshtein(a, b) <= k`` predicate plans as.

    Blocking: two strings within edit distance k share at least one
    common string reachable by <= k deletions from each (substitution =
    delete at the same position both sides; insert/delete = delete one
    side) — so exploding each string's delete-variant set and
    equi-joining on the variant yields a candidate superset, verified
    with one exact ``levenshtein`` per DISTINCT candidate pair.  The
    SymSpell shape: linear explode (<= 1+L+L²/2 variants per string),
    one hash join on the variant, exact verify — never all-pairs.

    ``max_bucket`` (default ON, the round-8 guard convention): a
    degenerate variant shared by more than that many strings — mass-
    duplicated names, empty-ish strings — makes its bucket's self-join
    quadratic; such variants are dropped before the join.  RECALL
    TRADED FOR A BOUND inside mega-clusters only, the ``minhash_pairs``
    stop-shingle contract; pass ``None`` for corpora known clean.

    For LONG text use the shingle/MinHash family instead: variants
    carry the full string, so this operator's shuffle is O(L²) bytes
    per row at k=2."""
    if max_distance not in (1, 2):
        raise ValueError("edit_distance_pairs supports max_distance 1 or 2")
    # Under-partitioned-input defense: a small single-file scan would run
    # the ENTIRE variant explode + hash-probe + levenshtein pipeline in
    # one task (measured 10.1 s -> 1.7 s at the sf0.1 bench from this
    # alone).  A real multi-file corpus already has >= cores partitions
    # and skips the shuffle.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    ex = df.select(F.col(id_col).alias("__id"),
                   F.col(text_col).alias("__txt"),
                   F.explode(_delete_variants(text_col, max_distance))
                    .alias("__v"))
    if max_bucket is not None:
        hot = (ex.groupBy("__v").agg(F.count("*").alias("bn"))
               .where(F.col("bn") > max_bucket).select("__v"))
        ex = ex.join(F.broadcast(hot), "__v", "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    cand = (a.join(b, (F.col("a.__v") == F.col("b.__v"))
                   & (F.col("a.__id") < F.col("b.__id")))
             .select(F.col("a.__id").alias("id1"),
                     F.col("b.__id").alias("id2"),
                     F.levenshtein("a.__txt", "b.__txt").alias("dist")))
    # Verify BEFORE deduplicating: levenshtein is a cheap map-side JVM op
    # on short strings, so re-computing it per shared variant beats
    # distinct-ing the full candidate superset (which would shuffle the
    # strings themselves).  After the filter only TRUE pairs shuffle —
    # three ints each, duplicated at most (variants shared) times.
    return (cand.where(F.col("dist") <= max_distance)
                .groupBy("id1", "id2").agg(F.min("dist").alias("dist")))


def prune_hub_edges(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                    min_jaccard: float = 0.1,
                    min_cn: int = 0) -> DataFrame:
    """Drop LOW-EMBEDDEDNESS edges from a near-dup candidate graph
    before transitive closure — the hub-spam guard for
    :func:`dup_clusters`.

    Candidate generators (LSH bands, simhash buckets, fingerprints)
    occasionally emit a SPURIOUS hub: one boilerplate-heavy document
    colliding with many unrelated documents.  Transitive closure then
    welds their distinct duplicate groups into one giant cluster, and
    keep-one-per-cluster silently deletes documents that were never
    near-duplicates of the kept representative — the classic
    over-merge failure of MinHash pipelines at corpus scale.  A
    spurious bridge is TOPOLOGICALLY distinctive: its endpoints share
    (almost) no other neighbors, so its neighborhood-Jaccard
    embeddedness (:func:`graph.link_scores`) is ~0, while genuine
    duplicate groups are near-cliques whose internal edges score
    high.  This operator keeps an edge iff its endpoints' Jaccard
    overlap >= ``min_jaccard`` AND common-neighbor count >=
    ``max(min_cn, 1)`` — with the documented carve-out that an
    ISOLATED pair (both endpoints degree 1: two docs colliding only
    with each other) is always kept, because a 2-clique is a
    legitimate duplicate group with nothing to be embedded IN.  A
    pure BRIDGE (endpoints in different groups, zero shared
    neighbors, at least one endpoint with other edges) is dropped —
    that is the over-merge edge this operator exists to remove.

    Output: the surviving subset of the canonical ``(d1, d2)`` edge
    list, ready for ``dup_clusters``/``star_components``.  Cost = one
    ``link_scores`` pass (wedge join + one hash agg) + a broadcast-
    free left join back; output-proportional, no new shuffle shape.
    Hub pre-screens for pathological degree live on
    ``link_scores(max_center_degree=...)``."""
    e = (pairs.select(F.least(d1, d2).alias("u"),
                      F.greatest(d1, d2).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v")))
         .distinct())
    deg = (e.select(F.col("u").alias("n"))
           .unionByName(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    scores = (link_scores(e, "u", "v")
              .where(F.col("adjacent"))
              .select("u", "v", "cn", "jaccard"))
    keep = (e.join(deg.select(F.col("n").alias("u"),
                              F.col("d").alias("du")), "u")
            .join(deg.select(F.col("n").alias("v"),
                             F.col("d").alias("dv")), "v")
            .join(scores, ["u", "v"], "left")
            .where(((F.col("du") == 1) & (F.col("dv") == 1))
                   | (F.col("cn").isNotNull()
                      & (F.col("jaccard") >= F.lit(float(min_jaccard)))
                      & (F.col("cn") >= F.lit(max(int(min_cn), 1))))))
    return keep.select(F.col("u").alias(d1), F.col("v").alias(d2))
