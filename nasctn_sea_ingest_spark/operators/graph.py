"""Iterative graph analytics on DataFrames.

Every iterative operator here runs its rounds through ONE loop,
:func:`_rounds`.  A round builds the next state frame, records round
1's plan with ``stage_digest`` BEFORE the ``localCheckpoint`` that
truncates its lineage (the Pregel-style pattern — there is no single
declarative plan for a fixpoint), checkpoints it (eager, or lazy when
the round's probe is an action that materializes it anyway — one job
per round instead of two), then probes for the fixpoint.  When the
round cap runs out, operators with a true fixpoint (components,
shortest paths, cores, BFS) RAISE instead of returning silently
under-converged results; fixed budgets (the PageRank family) and the
LPA heuristic return.

Small graphs skip the distributed loops: :func:`_driver_gate` is the one
size gate in front of the driver kernels (a row cap, the wide-id byte
guard, then a collect) and :func:`_union_find` the one driver
union-find — star_components labels components with it, the BFS
centralities bound their work with it.  ``local_graph_rows=0`` forces
the distributed side.

The four PageRank faces share one power-iteration body
(:func:`_power_iteration`): the global forms are the personalized ones
with every node a seed, and the exact forms swap the float update for
BIGINT floor division.  Driver-side state per round is a bounded probe
scalar, never a data collect.
"""

from __future__ import annotations

from collections import Counter, deque
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                               StringType, StructField, StructType)

from ..querylog import stage_digest

__all__ = ["pagerank", "pagerank_exact", "star_components",
           "cooccur_pairs", "triangle_count", "local_triangles",
           "shortest_paths",
           "bounded_hop_distances", "k_core", "core_numbers",
           "personalized_pagerank", "personalized_pagerank_exact",
           "label_propagation", "temporal_edges", "link_scores",
           "hits_exact", "betweenness", "assortativity",
           "closeness"]


def _rounds(state, step, done, *, max_iter: int, tag: str,
            eager: bool = False, exhausted: "str | None" = None):
    """The round loop of every iterative operator in this module.

    Up to ``max_iter`` times: ``new = step(state)``; record its plan as
    stage ``tag`` (the collector keeps round 1's — later rounds differ
    only in the checkpoint scan they start from); ``localCheckpoint``
    it, eagerly or lazily (lazy only when ``done`` runs an action that
    reads every partition of ``new``); stop once ``done(state, new)``.
    Returns the last state.  Running out of rounds raises
    ``RuntimeError(exhausted)``, or returns the last state when
    ``exhausted`` is None."""
    for _ in range(max_iter):
        new = step(state)
        stage_digest(tag, new)
        new = new.localCheckpoint(eager=eager)
        stop = done(state, new)
        state = new
        if stop:
            return state
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return state


def _empty(df: DataFrame) -> bool:
    """Fixpoint probe: ``df`` has no rows (one small job)."""
    return not df.limit(1).count()


def _repeats(value):
    """Fixpoint probe for monotone states: stop once ``value(new)`` — a
    one-row aggregate — equals the previous round's."""
    last = [None]

    def done(_, new):
        v = value(new)
        stop, last[0] = v == last[0], v
        return stop
    return done


def _driver_gate(cap: int, edges: DataFrame,
                 nodes: "DataFrame | None" = None,
                 n_e: "int | None" = None):
    """The size gate in front of every driver graph kernel (the
    ``train_bpe`` precedent: when a distributed loop's per-round cost is
    pure planning and scheduling, run the bounded driver algorithm).

    The edge frame — and the node frame when given — must each fit
    ``cap`` rows, counted on materialized frames so the gate cannot
    race the collect (``n_e`` passes an edge count the caller already
    has).  For STRING/BINARY ids the row budget alone under-prices the
    collect (a 128-char doc id costs ~10x a bigint on the driver), so
    the cap shrinks by the mean id width over the last frame,
    ``cap * 16 / avg_len``: a 160-byte-id graph passes only up to ~20k
    rows and the collected bytes stay in the numeric default's few-MB
    envelope.  Returns the collected rows of each frame, or None when
    the graph takes the distributed loop (``cap=0`` always does)."""
    if not cap:
        return None
    frames = [edges] if nodes is None else [edges, nodes]
    sizes = [edges.count() if n_e is None else n_e]
    if nodes is not None and sizes[0] <= cap:
        sizes.append(nodes.count())
    if max(sizes) > cap:
        return None
    probe = frames[-1]
    if isinstance(probe.schema[0].dataType, (StringType, BinaryType)):
        widths = probe.agg(*[F.avg(F.length(c))
                             for c in probe.columns]).first()
        width = sum(w or 0.0 for w in widths) / len(widths)
        if max(sizes) > int(cap * 16 // max(16.0, width)):
            return None
    return [f.collect() for f in frames]


def _union_find(nodes, edges) -> dict:
    """Driver union-find (path halving, union by attachment): maps
    every node to its component's root."""
    parent = {n: n for n in nodes}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: find(n) for n in parent}


def _driver_frame(spark, node_field, rows, *fields) -> DataFrame:
    """A driver kernel's result frame: ``node`` typed like the input
    ids, then ``fields``."""
    return spark.createDataFrame(rows, StructType([
        StructField("node", node_field.dataType, node_field.nullable),
        *fields]))


def _is_materialized(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is only projections and
    filters over an existing-RDD scan (a checkpoint, or rows handed in
    from the driver): re-checkpointing such a frame would copy it in
    one extra job for nothing.  Checked on the plan's node classes."""
    kinds, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kinds.add(node.getClass().getSimpleName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return "LogicalRDD" in kinds and kinds <= {"LogicalRDD", "Project",
                                               "Filter"}


def _power_iteration(edges: DataFrame, src: str, dst: str, sources,
                     rounds: int, tag: str, out: str,
                     tol: "float | None" = None, damping: float = 0.85,
                     scale: "int | None" = None, num: int = 85,
                     den: int = 100) -> DataFrame:
    """The one PageRank body behind all four faces.  ``sources=None``
    is the global form: every node a seed through a literal column
    (never a collect), so n_s = n.  Otherwise teleport and dangling
    mass return only to the seeds, typed from the edge schema.
    ``scale=None`` runs the float update (damping ``damping``, stop
    early once the L1 delta < ``tol``); a ``scale`` runs the exact
    BIGINT one (damping num/den, floor division, exactly ``rounds``
    rounds), with tp = scale div n_s:

        r0(v)  = seed(v) * tp
        share(u) = r(u) div outdeg(u)             (outdeg > 0)
        D      = sum of r(u) over dangling u      (outdeg = 0)
        r'(v)  = seed(v) * ( ((den-num) * tp) div den
                             + (num * (D div n_s)) div den )
               + (num * sum of incoming shares) div den

    Per round: ONE equi-join of ranks against the once-repartitioned
    edge list, ONE map-side-combinable sum by dst, the dangling mass as
    a 1-row broadcast FRAME (never a collected scalar, so a round is
    exactly one action: the eager checkpoint), plus the delta join when
    ``tol`` is set.  Out-degree and the seed flag are static: attached
    to the node frame once instead of re-joined every round."""
    exact = scale is not None
    rc = "r" if exact else "rank"
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .where(F.col("s").isNotNull() & F.col("d").isNotNull())
         .distinct()
         .repartition("s"))
    stage_digest(f"{tag}.edges", e)  # pre-checkpoint (r12 verdict #1)
    e = e.localCheckpoint(eager=True)
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select(F.col("d").alias("node"))))
    deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    if sources is None:
        nodes = nodes.distinct().localCheckpoint(eager=True)
        n_s = nodes.count()  # driver scalar: node count (bounded)
        if n_s == 0:
            return nodes.withColumn(out, F.lit(0).cast("long") if exact
                                    else F.lit(0.0))
        nodes = nodes.join(deg, nodes.node == deg.s, "left")
        extra, seed = [], F.lit(1)
    else:
        seeds = (edges.sparkSession.createDataFrame(
            [(x,) for x in sorted(set(sources))], e.select("s").schema)
            .toDF("node"))
        n_s = len(set(sources))
        nodes = (nodes.union(seeds.select("node")).distinct()
                 .localCheckpoint(eager=True))
        nodes = (nodes.join(deg, nodes.node == deg.s, "left")
                 .join(seeds.withColumn("__is", F.lit(1)), "node", "left"))
        extra = [F.coalesce("__is", F.lit(0)).cast("long").alias("seed")]
        seed = F.col("seed")
    nodes = (nodes.select("node", F.coalesce("deg", F.lit(0)).cast("long")
                          .alias("deg"), *extra)
             .localCheckpoint(eager=True))
    if exact:
        tp = scale // n_s
        r0 = (seed * F.lit(tp)).cast("long")
        dmass = F.coalesce(F.sum(rc), F.lit(0)).cast("long")
        share = F.expr(f"{rc} div deg")
        inflow = F.sum("__sh").cast("long")
        update = (seed * (F.lit(((den - num) * tp) // den).cast("long")
                          + F.expr(f"({num} * (__dm div {n_s})) "
                                   f"div {den}"))
                  + F.expr(f"({num} * coalesce(__in, 0)) div {den}")
                  ).cast("long")
    else:
        r0 = tp = seed * F.lit(1.0 / n_s)
        dmass = F.coalesce(F.sum(rc), F.lit(0.0))
        share = F.col(rc) / F.col("deg")
        inflow = F.sum("__sh")
        update = ((1.0 - damping) * tp + damping * F.col("__dm") * tp
                  + damping * F.coalesce(F.col("__in"), F.lit(0.0)))

    def step(ranks):
        dang = ranks.where(F.col("deg") == 0).agg(dmass.alias("__dm"))
        contrib = (ranks.where(F.col("deg") > 0)
                   .select("node", share.alias("__sh"))
                   .join(e, F.col("node") == e.s)
                   .groupBy(F.col("d").alias("node"))
                   .agg(inflow.alias("__in")))
        return (nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(*nodes.columns, update.alias(rc)))

    def converged(old, new):
        if tol is None:
            return False
        delta = (new.alias("a").join(old.alias("b"), "node")
                 .agg(F.sum(F.abs(F.col(f"a.{rc}") - F.col(f"b.{rc}"))))
                 .first()[0])
        return delta is not None and delta < tol

    # r16 NEGATIVE RESULTS on this loop, both measured with interleaved
    # q115 probe pairs (guide §1.6):
    # - pinning the edge checkpoint at defaultParallelism partitions
    #   (repartition(par, "s")) to widen the per-round 4-task scan:
    #   6.35/7.47 s -> 9.13/9.80 s — tiny-task dispatch cost exceeds the
    #   parallelism gain (the r15 persist-experiment lesson again);
    # - fusing k rounds per materialization for the fixed-budget path:
    #   k=2 a wash (7.91/7.14 -> 7.78/7.04), k=5 a 25% REGRESSION
    #   (9.32/9.54) — each round references the rank vector TWICE
    #   (dangling mass + contributions), so the lazy chain doubles the
    #   plan per fused round and analysis/codegen outgrow the saved job
    #   overhead.  The one-eager-checkpoint-per-round shape stays.
    ranks = _rounds(nodes.withColumn(rc, r0), step, converged,
                    max_iter=rounds, tag=f"{tag}.round", eager=True)
    return ranks.select("node", F.col(rc).alias(out))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iter: int = 20,
             tol: "float | None" = 1.0e-6) -> DataFrame:
    """PageRank over a directed edge list; returns ``(node, rank)`` with
    ranks summing to 1 (probability form).

    Semantics match the classic formulation: dangling nodes (no out-
    edges) redistribute their mass uniformly; teleport factor
    ``1 - damping``. Stops after ``max_iter`` rounds or when the L1
    delta between successive rank vectors drops below ``tol``;
    ``tol=None`` runs exactly ``max_iter`` rounds and SKIPS the
    per-round delta join+aggregate — the fixed-budget form, ~2x fewer
    jobs per round when the iteration count is chosen up front.

    Scale shape per round (:func:`_power_iteration`, every node a
    seed): ranks(join)edges shuffles ranks on the node id against the
    ONCE-repartitioned edge list, contributions aggregate on dst
    (map-side combinable), and the new vector localCheckpoints —
    memory bounded by the rank vector, lineage bounded by one round.
    Rounds to tol=1e-6 at damping 0.85 ≈ 85 worst-case; real graphs
    converge in 10-30.
    """
    return _power_iteration(edges, src, dst, None, max_iter, "pagerank",
                            "rank", tol=tol, damping=damping)


def _components_local(spark, node_rows, edge_rows, node_field):
    """star_components' driver kernel over the gated, collected graph:
    :func:`_union_find`, then each component labeled with its min node
    id — exact and identical to the distributed fixpoint's
    (node, component-min) contract."""
    root = _union_find([r[0] for r in node_rows], edge_rows)
    low: dict = {}
    for n, r in root.items():
        if r not in low or n < low[r]:
            low[r] = n
    return _driver_frame(spark, node_field,
                         [(n, low[r]) for n, r in root.items()],
                         StructField("cluster", node_field.dataType,
                                     node_field.nullable))


def star_components(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                    max_iter: int = 30,
                    local_graph_rows: int = 200_000) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log n) ROUNDS REGARDLESS OF DIAMETER,
    where min-label propagation needs diameter-many rounds (silently
    WRONG past its round cap on chain-shaped graphs: CDC dedup chains
    A~B~C~... where consecutive revisions pair but distant ones
    don't).  Returns ``(node, cluster)``: every id that appears in any
    pair, labeled with its component's min id (``dedup.dup_clusters``
    is this operator).

    Per round each operation is one groupBy-min + one equi-join on the
    node key, but the edge set CONTRACTS toward the star form (v, min)
    instead of labels crawling one hop per round:

    - large-star: for each node u, hang every LARGER neighbor off
      m = min(N(u) ∪ {u})  — halves tree heights;
    - small-star: hang every neighbor ≤ u (plus u) off m — flattens.

    Fixpoint (edge multiset stops changing — checked by a cheap
    order-independent hash-sum aggregate, the table_fingerprint trick)
    means every edge is (v, component-min).  ``max_iter`` exhaustion
    RAISES rather than return under-merged clusters.

    Graphs whose distinct edges and nodes pass :func:`_driver_gate`
    at ``local_graph_rows`` (default 200k rows — a few MB for NUMERIC
    ids, fewer rows for wide string ids) run driver union-find instead
    (:func:`_components_local`): identical output, parity-pinned by
    pytest, milliseconds instead of ~6 fixpoint rounds of job
    overhead.  ``local_graph_rows=0`` forces the distributed loop."""
    e = pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
    # r16: materialize the caller's pair lineage ONCE — the node and
    # edge checkpoints below each re-executed the full upstream plan
    # (for semdedup_exact's verified pairs that was the whole
    # candidate+verify pipeline, twice; for q168 the co-purchase
    # build, twice).  SKIP both the digest and the checkpoint when the
    # caller already hands in a materialized frame (e.g. dbscan's
    # bounded-regime edge set): the recorded "pre-checkpoint" digest
    # would be a blind `Scan ExistingRDD` (the r12 stage-digest
    # contract).
    if not _is_materialized(e):
        stage_digest("star_components.base", e)
        e = e.localCheckpoint(eager=True)
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    # node set from the RAW pairs (both endpoints), BEFORE the self-loop
    # filter: a node appearing only in (x, x) pairs is still "every id
    # that appears in any pair" and must come back labeled with itself.
    nodes = sym.select(F.col("a").alias("node")).distinct()
    stage_digest("star_components.nodes", nodes)
    nodes = nodes.localCheckpoint()
    edges = sym.where(F.col("a") != F.col("b")).distinct()
    stage_digest("star_components.edges", edges)
    edges = edges.localCheckpoint()
    # size rounds to the graph, not the session: ~2M edges per
    # partition keeps small graphs' rounds single-task while a 100 TB
    # run keeps its full parallelism
    n_e = edges.count()
    rows = _driver_gate(local_graph_rows, edges, nodes, n_e=n_e)
    if rows is not None:
        return _components_local(pairs.sparkSession, rows[1], rows[0],
                                 nodes.schema["node"])
    p = max(1, -(-n_e // 2_000_000))
    if p < edges.rdd.getNumPartitions():
        edges = edges.coalesce(p)

    def _star(ed: DataFrame, large: bool) -> DataFrame:
        if large:
            # undirected neighborhoods: re-symmetrize, then hang every
            # LARGER neighbor off min(N(u) ∪ {u})
            sym = ed.unionByName(ed.select(F.col("b").alias("a"),
                                           F.col("a").alias("b")))
            m = (sym.groupBy("a")
                 .agg(F.least(F.min("b"), F.first("a")).alias("m")))
            out = (sym.join(m, "a").where(F.col("b") > F.col("a"))
                   .select(F.col("b").alias("a"), F.col("m").alias("b")))
        else:
            # edges directed larger -> smaller: hang every smaller
            # neighbor (and u itself) off the minimum
            d = ed.select(F.greatest("a", "b").alias("a"),
                          F.least("a", "b").alias("b"))
            m = d.groupBy("a").agg(F.min("b").alias("m"))
            j = d.join(m, "a")
            out = (j.select(F.col("b").alias("a"), F.col("m").alias("b"))
                   .unionByName(m.select("a", F.col("m").alias("b"))))
        return out.where(F.col("a") != F.col("b")).distinct()

    # ONE checkpoint per round (after both phases), not one per phase:
    # on small graphs the loop cost is jobs × (codegen + scheduling).
    # It cannot be deferred further: each star phase references its
    # input 2-4 times, so un-truncated lineage grows the logical plan
    # EXPONENTIALLY per round (a persist-chain variant hung the
    # 3000-node-chain test in the analyzer, round 9).  Lazy: the
    # order-independent multiset digest (sum of per-edge hashes) is a
    # full aggregate that materializes every partition.
    edges = _rounds(
        edges, lambda ed: _star(_star(ed, large=True), large=False),
        _repeats(lambda ed: ed.agg(F.sum(
            F.xxhash64("a", "b").cast("decimal(38,0)"))).first()[0]),
        max_iter=max_iter, tag="star_components.round",
        exhausted=f"star_components did not converge in {max_iter} "
                  "rounds; raise max_iter")
    # at fixpoint every surviving edge is (node, component-min); nodes
    # that ARE their component's min have no outgoing edge left
    lab = edges.groupBy("a").agg(F.min("b").alias("cluster")) \
               .withColumnRenamed("a", "node")
    return (nodes.join(lab, "node", "left")
            .select("node", F.coalesce("cluster", "node")
                    .alias("cluster")))


def cooccur_pairs(df: DataFrame, basket_col: str, item_col: str,
                  min_support: int = 1,
                  max_basket: int | None = 10000) -> DataFrame:
    """Market-basket co-occurrence edges: ``(i1, i2, support)`` with
    ``i1 < i2`` and ``support`` = number of distinct baskets containing
    both items — the candidate step of association mining and the edge
    builder for co-purchase graphs (:func:`triangle_count`,
    :func:`pagerank`, ``dedup.dup_clusters`` all accept its output).
    The LIBRARY form of corpus q116 (`plans/corpus_r3.py`), reusable on
    any (basket, item) relation, plus the mega-basket guard the fixed
    corpus query does not need on TPC-H's <=7-item orders.

    Scale shape: items dedupe to (basket, item) once, then pairs come
    from ONE self-equi-join on the basket key — shuffle volume is
    Σ B_k(B_k-1)/2 over basket sizes, never N².  ``max_basket``
    (default 10k) drops degenerate baskets before the join — one
    basket holding 1M items would alone emit 5·10¹¹ pairs; the usual
    stop-key trade (support from mega-baskets is lost) with the usual
    escape hatch (``None``)."""
    it = (df.select(F.col(basket_col).alias("__k"),
                    F.col(item_col).alias("__i"))
          .where(F.col("__i").isNotNull() & F.col("__k").isNotNull())
          .distinct())
    if max_basket is not None:
        big = (it.groupBy("__k").agg(F.count("*").alias("bn"))
               .where(F.col("bn") > max_basket).select("__k"))
        it = it.join(F.broadcast(big), "__k", "left_anti")
    a = it.alias("a")
    b = it.select(F.col("__k"), F.col("__i").alias("__j")).alias("b")
    return (a.join(b, (F.col("a.__k") == F.col("b.__k"))
                   & (F.col("a.__i") < F.col("b.__j")))
            .groupBy(F.col("a.__i").alias("i1"),
                     F.col("b.__j").alias("i2"))
            .agg(F.count("*").cast("bigint").alias("support"))
            .where(F.col("support") >= min_support))


def triangle_count(pairs: DataFrame, d1: str = "d1",
                   d2: str = "d2") -> DataFrame:
    """EXACT global triangle count of the undirected graph given as a
    pair list — one row ``(n_nodes, n_edges, n_triangles)``.

    Degree orientation (the MapReduce-classic trick): direct every edge
    from its lower-(degree, id) endpoint to the higher one, so each
    node's OUT-degree is O(sqrt(m)) on any graph — then triangles =
    wedges (u→v, u→w with v before w in the same total order) whose
    closing edge (v→w) exists.  Each triangle is counted exactly once
    (its corners have a unique orientation-order).  Three hash
    equi-joins + hash aggregates, no iteration, no driver loop — the
    naive neighbor-pair explode would square the hottest node's degree;
    orientation provably caps the wedge fan-out instead, which is why
    this survives power-law degree distributions at 100 TB.  The
    LIBRARY form of corpus q128 (`plans/corpus_r3.py`), for arbitrary
    pair lists (near-dup graphs, linkage output) instead of the fixed
    co-purchase derivation."""
    e = (pairs.select(F.least(d1, d2).alias("a"),
                      F.greatest(d1, d2).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("n"))
           .unionByName(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    # No broadcast hint on deg: one row per VERTEX, which for an
    # arbitrary input graph scales with the data (corpus q128 hints it
    # because ITS vertices are dimension-bounded part keys; the r8
    # media-pipeline lesson is that a mandatory broadcast on an
    # unbounded frame can exceed driver limits at real scale).  AQE
    # broadcasts when the runtime size is actually small.
    ed = (e.join(deg.withColumnRenamed("n", "a")
                 .withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("n", "b")
                .withColumnRenamed("d", "db"), "b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da"))
        .alias("dst_d"))
    w1 = o.select(F.col("src"), F.col("dst").alias("v"),
                  F.col("dst_d").alias("vd"))
    w2 = o.select(F.col("src"), F.col("dst").alias("w"),
                  F.col("dst_d").alias("wd"))
    v_first = (F.col("vd") < F.col("wd")) | \
        ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
    wedges = (w1.join(w2, "src").where(v_first)
              .select("v", "w"))
    closing = o.select(F.col("src").alias("v"),
                       F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count("*").cast("bigint").alias("n_triangles"))
    counts = e.agg(F.count("*").cast("bigint").alias("n_edges")) \
        .crossJoin(F.broadcast(deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"))))
    return (counts.crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_triangles"))


def local_triangles(pairs: DataFrame, d1: str = "d1",
                    d2: str = "d2") -> DataFrame:
    """Per-NODE exact triangle counts and local clustering coefficient
    of the undirected graph given as a pair list — one row per node:
    ``(node, degree, triangles, lcc)`` with
    ``lcc = 2*triangles / (degree*(degree-1))`` (0.0 for degree < 2).
    The node-level companion of :func:`triangle_count`'s global scalar:
    the standard graph-ML feature (Watts-Strogatz clustering), and the
    community-density signal behind "keep docs whose near-dup
    neighborhood is clique-like, drop hub spam" curation passes on
    near-dup graphs.

    Same degree-orientation core as :func:`triangle_count` (each edge
    directed from its lower-(degree, id) endpoint, wedges joined to
    their closing edge, so the hottest node fans out O(sqrt(m)) wedges
    instead of degree^2 — the property that survives power-law graphs
    at 100 TB); kept textually separate from ``triangle_count`` so the
    global face's benched q128-family plan digest stays byte-stable.
    Each triangle is found exactly once at its orientation apex, then
    charged to all three corners by a 3-way explode (3 rows per
    triangle — output-proportional, never degree-proportional) and one
    hash aggregate.  Nodes on no triangle still appear (degree join is
    a left join).  Oracle-checked as corpus q181 over the q170/q177
    customer witness graph (one planted {b, b+4, b+8} triangle per
    16-block, leaves and anchors triangle-free)."""
    e = (pairs.select(F.least(d1, d2).alias("a"),
                      F.greatest(d1, d2).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("n"))
           .unionByName(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    # deg is vertex-cardinality — no mandatory broadcast (the r8 lesson
    # recorded in triangle_count); AQE promotes it when actually small.
    ed = (e.join(deg.withColumnRenamed("n", "a")
                 .withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("n", "b")
                .withColumnRenamed("d", "db"), "b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da"))
        .alias("dst_d"))
    w1 = o.select(F.col("src"), F.col("dst").alias("v"),
                  F.col("dst_d").alias("vd"))
    w2 = o.select(F.col("src"), F.col("dst").alias("w"),
                  F.col("dst_d").alias("wd"))
    v_first = (F.col("vd") < F.col("wd")) | \
        ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
    wedges = (w1.join(w2, "src").where(v_first)
              .select("src", "v", "w"))
    closing = o.select(F.col("src").alias("v"),
                       F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    corners = (tri.select(F.explode(F.array("src", "v", "w"))
                          .alias("n"))
               .groupBy("n").agg(F.count("*").alias("t")))
    d, t = F.col("d"), F.coalesce(F.col("t"), F.lit(0))
    return (deg.join(corners, "n", "left")
            .select(F.col("n").alias("node"),
                    d.cast("int").alias("degree"),
                    t.cast("bigint").alias("triangles"),
                    F.when(d >= 2,
                           2.0 * t / (d * (d - F.lit(1))))
                    .otherwise(F.lit(0.0)).alias("lcc")))


def shortest_paths(edges: DataFrame, sources: "list",
                   src: str = "src", dst: str = "dst",
                   weight: str = "weight",
                   max_iter: int = 50) -> DataFrame:
    """Weighted single/multi-source shortest paths (distributed
    Bellman-Ford): returns ``(node, dist)`` for every node reachable
    from any of ``sources`` — the weighted complement of the q145
    unweighted reachability family.  Negative weights are rejected
    (distributed Bellman-Ford would still converge, but a negative
    CYCLE cannot be detected without diameter bookkeeping — refuse
    loudly rather than loop to max_iter).

    Per round: frontier ⋈ edges on the node key, one groupBy-min, one
    least() merge with the settled table — the PageRank shuffle shape.
    Only nodes whose distance IMPROVED join the next frontier, so
    rounds touch the expanding wavefront, not the whole graph; the
    loop exits when a round improves nothing (frontier empty — an
    exact fixpoint, no digest needed).  Rounds needed = the longest
    shortest path in EDGES (hops), so ``max_iter`` bounds work on
    adversarial chains; unconverged exits raise rather than return
    silently short distances (the round-9 lesson: iterative operators
    must not under-report on chain-shaped inputs)."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                      F.col(weight).cast("double").alias("w"))
         .where(F.col("s").isNotNull() & F.col("d").isNotNull()
                & F.col("w").isNotNull()))
    if e.where(F.col("w") < 0).limit(1).count():
        raise ValueError("shortest_paths requires non-negative weights "
                         "(negative-cycle detection is not implemented)")
    e = e.groupBy("s", "d").agg(F.min("w").alias("w"))  # parallel edges
    stage_digest("shortest_paths.edges", e)
    e = e.localCheckpoint()
    spark = edges.sparkSession
    # seed frame typed from the edge schema so joins never cast
    dist = (spark.createDataFrame([(x,) for x in sources],
                                  e.select("s").schema)
            .toDF("node").withColumn("dist", F.lit(0.0)).distinct()
            .localCheckpoint())

    def relax(merged):
        # only nodes whose distance IMPROVED relax their out-edges
        frontier = merged.where("__improved").select("node", "dist")
        cand = (frontier.join(e, frontier.node == e.s)
                .groupBy(F.col("d").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand")))
        return (merged.select("node", "dist").join(cand, "node", "full")
                .select("node",
                        F.least(F.coalesce("dist", F.lit(float("inf"))),
                                F.coalesce("cand", F.lit(float("inf"))))
                        .alias("dist"),
                        (F.col("dist").isNull()
                         | (F.col("cand") < F.col("dist")))
                        .alias("__improved")))

    # lazy checkpoint: the frontier-emptiness probe materializes it
    merged = _rounds(dist.withColumn("__improved", F.lit(True)), relax,
                     lambda _, m: _empty(m.where("__improved")),
                     max_iter=max_iter, tag="shortest_paths.round",
                     exhausted=f"shortest_paths did not converge in "
                               f"{max_iter} rounds — the graph has "
                               "shortest paths longer than max_iter "
                               "hops; raise max_iter")
    return merged.select("node", "dist")


def bounded_hop_distances(edges: DataFrame, sources: "list",
                          max_hops: int, src: str = "src",
                          dst: str = "dst",
                          weight: str = "weight") -> DataFrame:
    """Weighted shortest distances over paths of AT MOST ``max_hops``
    edges: ``(src, node, dist)`` for every (source, reachable-within-
    budget node) pair, ``dist`` = the minimum total weight among such
    paths.  The fixed-budget sibling of :func:`shortest_paths` (the
    pagerank_exact exactness pattern: a fixed hop budget makes the
    iterative family's arithmetic engine-independent and therefore
    SQL-oracle-able — corpus q174 is the driver-scale witness of this
    shape).  Unlike :func:`shortest_paths` there is no convergence
    question and no under-convergence risk: the budget IS the
    semantics, useful on its own for "within k handoffs/transfers"
    queries and as the bounded probe of a graph too large to converge.

    ``dist`` keeps the weight column's type — pass integer weights
    for exact cross-engine parity (BIGINT sums), doubles when you
    just want numbers.  Negative weights are fine HERE (the budget
    bounds path length, so no negative-cycle divergence), unlike the
    convergent operator which must reject them.

    Scale shape per hop: one equi-join of the (src, node, dist)
    frontier against the ONCE-checkpointed edge list and one
    map-side-combinable min hash-agg — the Bellman-Ford relax round.
    State after hop k = distinct (src, node) pairs reached, bounded
    by |sources| × nodes; ``sources`` is a bounded driver list (the
    shortest_paths convention)."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    if not sources:
        raise ValueError("bounded_hop_distances needs at least one "
                         "source node")
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                      F.col(weight).alias("w"))
         .where(F.col("s").isNotNull() & F.col("d").isNotNull()
                & F.col("w").isNotNull()))
    stage_digest("bounded_hop_distances.edges", e)
    e = e.localCheckpoint(eager=False)
    spark = edges.sparkSession
    wtype = e.schema["w"].dataType
    dist = (spark.createDataFrame([(x,) for x in set(sources)],
                                  e.select("s").schema)
            .toDF("node")
            .select(F.col("node").alias("src"), "node",
                    F.lit(0).cast(wtype).alias("dist")))
    for k in range(max_hops):
        relax = (dist.join(e, dist.node == e.s)
                 .select("src", F.col("d").alias("node"),
                         (F.col("dist") + F.col("w")).alias("dist")))
        dist = (dist.unionByName(relax)
                .groupBy("src", "node")
                .agg(F.min("dist").alias("dist")))
        # small budgets (the oracle-able regime) stay checkpoint-free
        # so the WHOLE unrolled plan is digest-visible; past 7 hops
        # the chained-shuffle lineage needs the Pregel truncation or
        # analysis time grows superlinearly (measured: a 30-hop unroll
        # hung the analyzer)
        if (k + 1) % 8 == 0:
            stage_digest(f"bounded_hop_distances.hop{k + 1}", dist)
            dist = dist.localCheckpoint(eager=True)
    return dist


def pagerank_exact(edges: DataFrame, src: str = "src",
                   dst: str = "dst", n_iter: int = 5,
                   scale: int = 10 ** 12, damping_num: int = 85,
                   damping_den: int = 100) -> DataFrame:
    """PageRank with EXACT fixed-point integer arithmetic — the
    driver-oracle witness for the power-iteration family (the q165
    pattern: exact arithmetic + fixed semantics = a SQL oracle).
    :func:`pagerank` stays the float production face; this variant
    makes every round's values exactly representable on any engine by
    defining the update in BIGINTs with floor division:

        r0(v)  = scale div n
        share(u) = r(u) div outdeg(u)            (outdeg > 0)
        D      = sum of r(u) over dangling u     (outdeg = 0)
        r'(v)  = ((den-num) * (scale div n)) div den
               + (num * (D div n)) div den
               + (num * sum of incoming shares) div den

    run for EXACTLY ``n_iter`` rounds (a fixed budget is part of the
    semantics — no convergence question, so no under-convergence risk;
    the shortest_paths raise rule is satisfied by construction).
    Truncation leaks a little mass per round, which is fine for a
    witness: the returned ``(node, rank_scaled)`` is deterministic,
    engine-independent, and order-equivalent to the float ranks
    (parity-tested).  All intermediates fit a BIGINT: shares sum to
    <= scale, and num * scale <= 8.5e13 << 2^63.

    Scale shape per round: identical to :func:`pagerank` — one
    equi-join of ranks against the once-repartitioned edge list, one
    map-side-combinable sum by dst, a 1-row broadcast dangling frame,
    one eager checkpoint (:func:`_power_iteration`, every node a
    seed)."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    return _power_iteration(edges, src, dst, None, n_iter,
                            "pagerank_exact", "rank_scaled", scale=scale,
                            num=damping_num, den=damping_den)


def k_core(pairs: DataFrame, k: int, d1: str = "d1", d2: str = "d2",
           max_iter: int = 100) -> DataFrame:
    """The k-CORE of the undirected graph given as a pair list: the
    maximal subgraph in which every node has degree >= ``k`` —
    returned as ``(node, degree)`` with degree measured INSIDE the
    core.  The standard graph-sparsification / community-seed peel
    (Seidman 1983): dup-cluster graphs keep their dense kernels,
    co-occurrence graphs drop incidental pairings before triangle or
    component analysis.

    Iterative peeling: per round one degree hash-aggregate, then both
    edge endpoints anti-join the sub-k node set — every round is the
    groupBy + equi-join shuffle shape, localCheckpoint bounds lineage
    (the Pregel discipline).  The fixpoint is EXACT (a round that
    removes nothing is final — checked by one count on the removal
    set, a bounded driver scalar); rounds needed = peel depth, which
    is small on real graphs (degeneracy ordering removes whole
    layers) but O(n) on adversarial chains, so ``max_iter`` exhaustion
    RAISES instead of returning a silently-unpeeled graph (the
    shortest_paths convergence rule)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b"))))
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
           .distinct())
    stage_digest("k_core.sym", sym)
    sym = sym.localCheckpoint(eager=True)

    def peel(bad):
        # the previous round's removal set leaves both edge endpoints;
        # lazy checkpoints (r16): the emptiness probe materializes the
        # removal set, and the next probe the peeled edge list — one
        # job per round
        nonlocal sym
        if bad is not None:
            sym = (sym.join(bad, "a", "left_anti")
                   .join(bad.withColumnRenamed("a", "b"), "b", "left_anti")
                   .localCheckpoint(eager=False))
        return (sym.groupBy("a").agg(F.count("*").alias("degree"))
                .where(F.col("degree") < k).select("a"))

    # max_iter counts peels; the round after the last one only has to
    # observe an empty removal set (max_iter was exactly the peel depth)
    _rounds(None, peel, lambda _, bad: _empty(bad), max_iter=max_iter + 1,
            tag="k_core.peel",
            exhausted=f"k_core did not reach its fixpoint in {max_iter} "
                      "rounds (adversarial chain-like peel depth); raise "
                      "max_iter")
    return (sym.groupBy("a").agg(F.count("*").alias("degree"))
            .withColumnRenamed("a", "node"))


def core_numbers(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                 max_rounds: int = 500) -> DataFrame:
    """Full CORENESS decomposition: ``(node, core)`` where core =
    the largest k such that the node survives into the k-core — the
    degeneracy ordering behind graph-ML features, influential-node
    ranking, and :func:`k_core` itself (``k_core(k)``'s node set is
    exactly ``core >= k``, pinned by pytest).

    H-OPERATOR iteration (Lu et al., "The H-index of a network node
    and its relation to degree and coreness", Nat. Commun. 2016):
    start every node at its degree and repeatedly replace each node's
    value with the H-INDEX of its neighbors' values (the largest x
    such that >= x neighbors hold >= x); the sequence is monotone
    non-increasing and its fixpoint IS the coreness.  Per-node
    parallel — unlike the textbook min-degree peel, whose sequential
    removal order phases into O(#degree levels) driver rounds (a
    phased-peel variant measured 139-149 s on the dense co-purchase
    graph vs 84 s for this form; a frontier-restricted variant was
    SLOWER there — on dense graphs every node neighbors a change every
    round, so the restriction joins pay without pruning).

    Per round: one equi-join (edges x values on the neighbor key), a
    (node, value) count aggregate, a per-node descending-value running
    sum (window keyed by node — rows per node = that node's DISTINCT
    neighbor values, bounded and hub-safe), and a max.  Values only
    decrease, so an unchanged sum is an exact fixpoint;
    ``max_rounds`` exhaustion RAISES (chains
    propagate one hop per round — the usual adversarial case), never
    returns a partial decomposition.  Nodes appearing only in
    self-loop pairs get core 0."""
    from pyspark.sql import Window

    e = (pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()))
    # r16: materialize the caller's pair lineage ONCE — the node set,
    # the symmetrized list and the degree init all derive from it (the
    # previous shape re-executed the upstream plan for allnodes and
    # cur separately; q177's co-purchase build ran twice).  The node
    # set itself stays lazy: it is read once, by the final zero-core
    # anti-join.
    stage_digest("core_numbers.base", e)
    e = e.localCheckpoint(eager=True)
    allnodes = (e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .distinct())
    prop = e.where(F.col("a") != F.col("b"))
    cur = (prop.unionByName(prop.select(F.col("b").alias("a"),
                                        F.col("a").alias("b")))
           .distinct())
    stage_digest("core_numbers.sym", cur)
    cur = cur.localCheckpoint(eager=True)
    vals = (cur.groupBy(F.col("a").alias("node"))
            .agg(F.count("*").cast("int").alias("c"))
            .localCheckpoint(eager=True))
    # self-loop-only / isolated-in-pairs nodes: core 0
    zero = (allnodes.join(vals.select("node"), "node", "left_anti")
            .withColumn("core", F.lit(0).cast("int")))
    w = Window.partitionBy("node").orderBy(F.desc("__cn"))

    def h_index(vals):
        h = (cur.join(vals.select(F.col("node").alias("b"),
                                  F.col("c").alias("__cn")), "b")
             .groupBy(F.col("a").alias("node"), F.col("__cn"))
             .agg(F.count("*").alias("__m"))
             .withColumn("__cum", F.sum("__m").over(w))
             .groupBy("node")
             .agg(F.max(F.least(F.col("__cn"),
                                F.col("__cum").cast("int")))
                  .alias("__h")))
        return (vals.join(h, "node")
                .select("node", F.least("c", F.col("__h")).alias("c")))

    # lazy checkpoint: the sum(c) probe is a full aggregate that
    # materializes every partition
    vals = _rounds(vals, h_index,
                   _repeats(lambda v: v.agg(F.sum("c")).first()[0]),
                   max_iter=max_rounds, tag="core_numbers.round",
                   exhausted=f"core_numbers did not reach its fixpoint in "
                             f"{max_rounds} rounds (chain-shaped value "
                             "propagation); raise max_rounds")
    return zero.unionByName(
        vals.select("node", F.col("c").alias("core")))


def personalized_pagerank(edges: DataFrame, sources: "list",
                          src: str = "src", dst: str = "dst",
                          damping: float = 0.85, max_iter: int = 20,
                          tol: "float | None" = 1.0e-6) -> DataFrame:
    """PageRank PERSONALIZED to a seed set: teleport (and dangling)
    mass returns only to ``sources`` (uniformly), so ranks measure
    proximity/relevance TO THE SEEDS instead of global centrality —
    seed-expansion retrieval, related-item ranking, trust propagation.
    Returns ``(node, rank)`` summing to ~1 over reachable nodes.

    :func:`pagerank` is this operator with every node a seed (both run
    :func:`_power_iteration`).  Same per-round shape: one equi-join
    against the once-repartitioned edge list, one map-side-combinable
    aggregate, a 1-row broadcast dangling frame, an eager checkpoint;
    ``tol=None`` runs the fixed budget without the delta action.
    ``sources`` is a bounded driver list (the shortest_paths
    convention), seeded through a typed createDataFrame — never a
    collect."""
    if not sources:
        raise ValueError("personalized_pagerank needs at least one "
                         "source node")
    return _power_iteration(edges, src, dst, sources, max_iter,
                            "personalized_pagerank", "rank", tol=tol,
                            damping=damping)


def personalized_pagerank_exact(edges: DataFrame, sources: "list",
                                src: str = "src", dst: str = "dst",
                                n_iter: int = 5, scale: int = 10 ** 12,
                                damping_num: int = 85,
                                damping_den: int = 100) -> DataFrame:
    """:func:`personalized_pagerank` with EXACT fixed-point integer
    arithmetic — the driver-oracle witness for the SEEDED power-
    iteration family, extending :func:`pagerank_exact` (q166) with the
    two PPR-specific terms: teleport mass and dangling mass return
    ONLY to the seed set.  The float operator stays the production
    face; this variant makes every round exactly representable on any
    engine via BIGINT floor division:

        tp     = scale div n_s                    (n_s = |seeds|)
        r0(v)  = tp if v in S else 0
        share(u) = r(u) div outdeg(u)             (outdeg > 0)
        D      = sum of r(u) over dangling u      (outdeg = 0)
        r'(v)  = [v in S] * ( ((den-num) * tp) div den
                            + (num * (D div n_s)) div den )
               + (num * sum of incoming shares) div den

    run for EXACTLY ``n_iter`` rounds (fixed budget = part of the
    semantics, the q166/q174 rule — a SQL oracle unrolls the rounds
    as CTE stages).  Truncation leaks a little mass per round, fine
    for a witness: the (node, rank_scaled) output is deterministic,
    engine-independent, and order-equivalent to the float PPR ranks
    (parity-tested).  BIGINT bounds: shares sum to <= scale and
    num * scale <= 8.5e13 << 2^63.

    Scale shape per round: identical to the float face — one
    equi-join against the once-repartitioned edge list, one map-side-
    combinable sum by dst, a 1-row broadcast dangling frame, one eager
    checkpoint.  ``sources`` is a bounded driver list (the
    shortest_paths convention), seeded through a typed
    createDataFrame — never a collect."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not sources:
        raise ValueError("personalized_pagerank_exact needs at least "
                         "one source node")
    return _power_iteration(edges, src, dst, sources, n_iter,
                            "personalized_pagerank_exact", "rank_scaled",
                            scale=scale, num=damping_num, den=damping_den)


def label_propagation(pairs: DataFrame, d1: str = "d1",
                      d2: str = "d2",
                      max_iter: int = 20) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) with a deterministic total tie-break: every node
    starts labeled with its own id; each round it adopts the label
    held by the most neighbors, ties by smallest label.  Returns
    ``(node, community)``.

    Deterministic BY CONSTRUCTION (synchronous rounds + total
    tie-break), unlike the textbook's random visit order — two runs on
    any input agree, and a pure-Python replay of the same rule is an
    exact pytest oracle.  LPA is a HEURISTIC: the fixed ``max_iter``
    budget is part of the semantics (synchronous LPA can 2-cycle on
    bipartite structure — the run stops early only when a round
    changes NOTHING, an exact check), so budget exhaustion is a normal
    return, not an error — there is no "correct" fixpoint being
    under-reported, which is why the shortest_paths raise rule does
    not apply.

    Per round: one equi-join (edges x labels on the neighbor key), a
    (node, label) count aggregate, and a per-node argmax by (count
    desc, label asc) computed as ONE map-side-combinable
    min(struct(-count, label)) aggregate — a hub's label votes reduce
    before the shuffle, where a top-1 window would sort them in one
    task; the changed-row count is one aggregate on the checkpointed
    update.

    r16 shape (guide §1.4 many-tiny-jobs / §2.4 share one exchange):

    - the caller's pair lineage is materialized ONCE (``base``) and
      both the symmetrized edge list and the node set derive from it —
      the previous shape re-executed the caller's full upstream plan
      for each (q173's co-purchase build ran twice, ~13 exec-s);
    - every node of the symmetrized list has >= 1 neighbor (symmetry),
      so the per-round argmax inner join covers ALL connected nodes —
      the coalesce-against-old-labels join is only load-bearing for
      ISOLATED nodes (self-loop-only / one-sided rows), whose label
      never changes.  Small fixed budgets (<= 8 rounds) therefore run
      the rounds as ONE lazy single-reference plan — no per-round
      checkpoint, no per-round changed-probe (early stop is provably a
      no-op on the RESULT: an unchanged round fixes every later
      round) — and union the static isolated set at the end.  Larger
      budgets keep the loop (the changed-probe now also materializes
      the lazy checkpoint — one job per round, not two)."""
    base = pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b")) \
        .where(F.col("a").isNotNull() | F.col("b").isNotNull())
    stage_digest("label_propagation.base", base)
    base = base.localCheckpoint(eager=True)
    e = (base.where(F.col("a").isNotNull() & F.col("b").isNotNull()
                    & (F.col("a") != F.col("b"))))
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
           .distinct())
    stage_digest("label_propagation.sym", sym)
    sym = sym.localCheckpoint(eager=True)
    allnodes = (base.select(F.col("a").alias("node"))
                .unionByName(base.select(F.col("b").alias("node")))
                .where(F.col("node").isNotNull())
                .distinct())

    def _argmax(labels):
        # argmax by (count desc, label asc) as ONE combinable agg:
        # min(struct(-count, label)) — struct ordering is
        # lexicographic, so the minimum is (max count, then smallest
        # label), for ANY orderable label type.  A row_number window
        # (the r13-pre form) shuffles AND sorts each node's distinct
        # neighbor labels in one task; the struct-min combines
        # map-side, so a hub's label votes reduce before the wire.
        return (sym.join(labels.select(F.col("node").alias("b"),
                                       F.col("label").alias("__l")),
                         "b")
                .groupBy(F.col("a").alias("node"), F.col("__l"))
                .agg(F.count("*").alias("__m"))
                .groupBy("node")
                .agg(F.min(F.struct((-F.col("__m")).alias("nm"),
                                    F.col("__l").alias("l")))
                     .alias("__t"))
                .select("node", F.col("__t.l").alias("__new")))

    if max_iter <= 8:
        # fixed small budget: one lazy plan, linear in rounds (each
        # round references the previous labels exactly once)
        labels = (sym.select(F.col("a").alias("node")).distinct()
                  .withColumn("label", F.col("node")))
        for _ in range(max_iter):
            labels = _argmax(labels) \
                .select("node", F.col("__new").alias("label"))
            stage_digest("label_propagation.round", labels)
        iso = (allnodes.join(sym.select(F.col("a").alias("node")),
                             "node", "left_anti")
               .withColumn("label", F.col("node")))
        return (labels.unionByName(iso)
                .select("node", F.col("label").alias("community")))

    def vote(labels):
        labels = labels.select("node", "label")
        new = F.coalesce("__new", F.col("label"))
        return (labels.join(_argmax(labels), "node", "left")
                .select("node", new.alias("label"),
                        (new != F.col("label")).alias("__chg")))

    # the budget is the semantics: running out of rounds returns
    labels = _rounds(allnodes.localCheckpoint(eager=True)
                     .withColumn("label", F.col("node")), vote,
                     lambda _, upd: _empty(upd.where("__chg")),
                     max_iter=max_iter, tag="label_propagation.round")
    return labels.select("node", F.col("label").alias("community"))


def temporal_edges(events: DataFrame, window: int, key: str = "k",
                   id_col: str = "u", ts: str = "t",
                   max_cell: "int | None" = None) -> DataFrame:
    """Time-respecting FOLLOWER edges over an event stream: one row
    ``(src, dst, t)`` per distinct pair of actors where ``dst`` acts
    on the same ``key`` within ``(t_src, t_src + window]`` — the edge
    list temporal-reachability / influence-cascade queries walk
    (q175's build, promoted to the library per the r13 verdict #4).

    Plan: a 1-D time-grid join.  The item ``key`` alone can have
    BOUNDED cardinality, so a plain key-equi-join degrades
    quadratically within each key as data grows; bucketing time at
    the window width and exploding the LEADER side over (bucket,
    bucket+1) caps each join group at two adjacent window-slices per
    key — a follower within ``(t, t+window]`` provably sits in the
    leader's bucket or the next one, so the candidate set is LOSSLESS
    (the ``spatial.grid_distance_join`` candidate shape in one
    dimension).  The exact time predicate verifies after the
    equi-join; distinct collapses multi-witness pairs.

    ``max_cell`` (default OFF): a VIRAL (key, bucket) cell — one item
    drawing n events in one window-width — still piles O(n²)
    candidate pairs into a single join group, the inherent worst case
    of any lossless pair generator.  When set, the guard counts
    events per (key, bucket) cell and RAISES naming the offenders if
    any exceeds ``max_cell`` (the fd_discover straddle-guard
    discipline: refuse loudly rather than run a quadratic cell or
    silently drop edges — unlike ``grid_distance_join.max_cell``,
    which drops cells, dropping here would silently change
    reachability).  Pre-filter or pre-aggregate the viral key, shrink
    the window, or raise the cap.  NOTE: the guard is an EAGER action
    at call time (one count-scan of ``events``) — the decision cannot
    live in the returned plan.

    Internal join aliases ``u2/k2/t2/jb`` are reserved (raises on
    collision); with the default column names the emitted plan is
    byte-identical to q175's corpus-local build (stage-digest-pinned
    by the rewire)."""
    w = int(window)
    if w <= 0:
        raise ValueError("window must be a positive duration in the "
                         "timestamp column's units")
    reserved = {"u2", "k2", "t2", "jb"} & set(events.columns)
    if reserved:
        raise ValueError(
            f"temporal_edges reserves internal column names "
            f"{sorted(reserved)}; rename the input columns")
    bkt = F.expr(f"{ts} div {w}")    # integer floor-div: exact
    if max_cell is not None:
        hot = (events.groupBy(F.col(key).alias("__hk"),
                              bkt.alias("__hb"))
               .agg(F.count("*").alias("__hn"))
               .where(F.col("__hn") > int(max_cell))
               .orderBy(F.desc("__hn")).limit(5).collect())
        if hot:
            cells = ", ".join(
                f"(key={r['__hk']}, bucket={r['__hb']}): "
                f"{r['__hn']} events" for r in hot)
            raise ValueError(
                f"temporal_edges: (key, time-bucket) cells exceed "
                f"max_cell={int(max_cell)} — worst offenders "
                f"{cells}.  A viral key-window piles O(n^2) "
                "candidate pairs into one join group; pre-filter or "
                "pre-aggregate the viral key, shrink the window, or "
                "raise max_cell")
    a = (events.withColumn(
            "jb", F.explode(F.array(bkt, bkt + 1))).alias("a"))
    b = (events.select(F.col(id_col).alias("u2"),
                       F.col(key).alias("k2"),
                       F.col(ts).alias("t2"))
         .withColumn("jb", F.expr(f"t2 div {w}"))
         .alias("b"))
    return (a.join(b, (F.col(f"a.{key}") == F.col("k2"))
                   & (F.col("a.jb") == F.col("b.jb"))
                   & (F.col("t2") > F.col(f"a.{ts}"))
                   & (F.col("t2") <= F.col(f"a.{ts}") + F.lit(w))
                   & (F.col(f"a.{id_col}") != F.col("u2")))
            .select(F.col(f"a.{id_col}").alias("src"),
                    F.col("u2").alias("dst"),
                    F.col("t2").alias("t"))
            .distinct())


def link_scores(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                max_center_degree: "int | None" = None) -> DataFrame:
    """EXACT link-prediction scores for every unordered node pair with
    at least one common neighbor in the undirected graph given as a
    pair list — one row per pair ``(u, v)`` with ``u < v``:

      - ``cn``           common-neighbor count (BIGINT)
      - ``du`` / ``dv``  endpoint degrees (BIGINT)
      - ``jaccard``      cn / (du + dv - cn) — neighborhood overlap
      - ``adamic_adar``  sum over common neighbors w of 1/ln(deg(w))
                         (Adamic & Adar 2003; a center is adjacent to
                         both endpoints, so deg(w) >= 2 and the log is
                         never zero)
      - ``adjacent``     whether the edge (u, v) itself exists — kept
                         as a flag instead of anti-joined away so one
                         frame serves both "predict missing links"
                         (filter NOT adjacent) and "score existing
                         edges by embeddedness" (dedup-graph curation:
                         high-jaccard edges are community-internal,
                         low ones are hub spam bridges)

    Plan: neighbor lists never materialize — pairs come from the WEDGE
    join (the ``triangle_count`` machinery re-keyed at the center):
    symmetrize the canonical edge list into (center, neighbor) rows,
    self-join on the center with ``u < v``, then ONE hash aggregate by
    (u, v) computes cn and the Adamic-Adar sum together (the center's
    degree rides the wedge row, joined once before the pairing).
    Endpoint degrees and the adjacency flag are two further equi-joins
    against vertex- and edge-cardinality frames (no mandatory
    broadcast — the r8 rule; AQE promotes them when actually small).

    Scale contract: the wedge fan-out is C(deg(w), 2) per center — the
    inherent output size of exact common-neighbor scoring, quadratic
    in the hottest degree (orientation cannot help here: both wedge
    arms are needed, not one triangle apex).  On power-law graphs cap
    it with ``max_center_degree``: the guard RAISES naming the hottest
    centers (the ``temporal_edges`` discipline — refuse loudly rather
    than run a quadratic cell or silently drop pairs; hub centers
    contribute the least signal anyway — 1/ln(d) vanishes — so the
    right response is usually to pre-drop hubs EXPLICITLY and rerun).
    NOTE: the guard is an EAGER action at call time (one count-scan),
    same caveat as ``temporal_edges``/``skew_survey``.

    Oracle-checked as corpus q182 (driver row) over the support>=2
    co-purchase graph; brute-force Python parity in
    ``test_link_scores_parity``."""
    e = (pairs.select(F.least(d1, d2).alias("a"),
                      F.greatest(d1, d2).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         .distinct())
    sym = (e.select(F.col("a").alias("c"), F.col("b").alias("n"))
           .unionByName(e.select(F.col("b").alias("c"),
                                 F.col("a").alias("n"))))
    deg = sym.groupBy("c").agg(F.count("*").alias("d"))
    if max_center_degree is not None:
        hot = (deg.where(F.col("d") > int(max_center_degree))
               .orderBy(F.desc("d")).limit(5).collect())
        if hot:
            worst = ", ".join(f"(node={r['c']}: degree {r['d']})"
                              for r in hot)
            raise ValueError(
                f"link_scores: centers exceed max_center_degree="
                f"{int(max_center_degree)} — worst offenders {worst}."
                "  A degree-d center fans out C(d,2) candidate pairs; "
                "pre-drop hub nodes explicitly (their 1/ln(d) "
                "Adamic-Adar weight is negligible) or raise the cap")
    ctr = sym.join(deg, "c")
    w1 = ctr.select("c", F.col("n").alias("u"), F.col("d").alias("cd"))
    w2 = ctr.select("c", F.col("n").alias("v"))
    scores = (w1.join(w2, "c")
              .where(F.col("u") < F.col("v"))
              .groupBy("u", "v")
              .agg(F.count("*").cast("long").alias("cn"),
                   F.sum(F.lit(1.0) / F.log(F.col("cd")))
                   .alias("adamic_adar")))
    du = deg.select(F.col("c").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("c").alias("v"), F.col("d").alias("dv"))
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v"),
                   F.lit(True).alias("adjacent"))
    return (scores.join(du, "u").join(dv, "v")
            .join(adj, ["u", "v"], "left")
            .select("u", "v", "cn",
                    F.col("du").cast("long").alias("du"),
                    F.col("dv").cast("long").alias("dv"),
                    (F.col("cn") / (F.col("du") + F.col("dv")
                                    - F.col("cn"))).alias("jaccard"),
                    "adamic_adar",
                    F.coalesce("adjacent", F.lit(False))
                    .alias("adjacent")))


def hits_exact(edges: DataFrame, src: str = "src", dst: str = "dst",
               n_iter: int = 3, scale: int = 10 ** 6) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) with EXACT fixed-
    point integer arithmetic — the ``pagerank_exact`` pattern extended
    to the mutually-recursive pair, giving the DIRECTED-graph
    centrality family a second cross-engine-exact witness:

        h0(u)   = scale
        a'(v)   = sum of h(u) over in-edges (u, v)
        a(v)    = a' div max(1, max_all(a') div scale)
        h'(u)   = sum of a(v) over out-edges (u, v)
        h(u)    = h' div max(1, max_all(h') div scale)

    run for EXACTLY ``n_iter`` rounds (fixed budget = part of the
    semantics, the q166/q176 rule).  Real HITS L2-normalizes each half
    round; sqrt is not engine-exact, so this witness normalizes by
    integer floor-dividing against the GLOBAL MAX instead — the same
    monotone rescale on every engine, keeping every intermediate
    bounded: after a rescale the max is <= 2*scale (floor division
    halves at worst near the boundary), so the next raw sum is <=
    2*scale*max_degree — BIGINT-safe for any graph with degree below
    ~4.6e12 regardless of n_iter, with NO overflow wraparound risk
    (Java long arithmetic wraps silently; DuckDB raises — an
    unguarded unnormalized unroll could diverge ACROSS engines).
    Rank ORDER within each half is preserved exactly (a shared floor
    division is monotone), which is the quantity HITS exists to
    produce.

    Scale shape per round: two equi-joins against the once-
    repartitioned edge list, two map-side-combinable sum aggregates,
    two 1-row broadcast max frames, one eager checkpoint — identical
    cost to two ``pagerank_exact`` rounds.  Nodes with no in-edges
    hold authority 0, no out-edges hold hub 0 (they still appear).

    Oracle-checked as corpus q183 (driver row, rounds unrolled as CTE
    stages over the temporal influence graph); Python integer replay
    in ``test_hits_exact_python_replay``."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if scale < 2:
        raise ValueError("scale must be >= 2")
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .where(F.col("s").isNotNull() & F.col("d").isNotNull())
         .distinct()
         .repartition("s"))
    stage_digest("hits_exact.edges", e)
    e = e.localCheckpoint(eager=True)
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select(F.col("d").alias("node")))
             .distinct()
             .localCheckpoint(eager=True))
    hub = nodes.withColumn("h", F.lit(int(scale)).cast("long"))
    auth = None
    for _i in range(n_iter):
        a_raw = (hub.join(e, hub.node == e.s)
                 .groupBy(F.col("d").alias("node"))
                 .agg(F.sum("h").cast("long").alias("ar")))
        a_div = a_raw.agg(F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"coalesce(max(ar), 0) div {int(scale)}"))
            .alias("__adv"))
        auth = (nodes.join(a_raw, "node", "left")
                .crossJoin(F.broadcast(a_div))
                .select("node",
                        F.expr("coalesce(ar, 0) div __adv")
                        .cast("long").alias("a")))
        # r16: intermediate auth half-rounds stay LAZY — the hub
        # checkpoint below materializes both halves in one action (the
        # duplicated auth subtree inside the hub plan shares its
        # exchanges via ReusedExchange), nearly halving the per-round
        # checkpoint job count.  Only the LAST round's auth is pinned:
        # the returned join reads it twice conceptually (plan + the
        # final action), and keeping the returned plan
        # checkpoint-terminated preserves the corpus plan contract
        # (the 1-row rescale crossJoin's BNLJ stays interior).
        stage_digest("hits_exact.auth", auth)  # first round's plan
        if _i == n_iter - 1:
            auth = auth.localCheckpoint(eager=True)
        h_raw = (auth.join(e, auth.node == e.d)
                 .groupBy(F.col("s").alias("node"))
                 .agg(F.sum("a").cast("long").alias("hr")))
        h_div = h_raw.agg(F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"coalesce(max(hr), 0) div {int(scale)}"))
            .alias("__hdv"))
        hub = (nodes.join(h_raw, "node", "left")
               .crossJoin(F.broadcast(h_div))
               .select("node",
                       F.expr("coalesce(hr, 0) div __hdv")
                       .cast("long").alias("h")))
        stage_digest("hits_exact.hub", hub)
        hub = hub.localCheckpoint(eager=True)
    return (hub.join(auth, "node")
            .select("node", F.col("h").alias("hub_scaled"),
                    F.col("a").alias("auth_scaled")))


# Work cap for the driver Brandes/closeness kernel: total BFS edge
# visits (sum over components of sources-in-component x component edge
# rows) — pure-Python BFS sustains ~5M visits/s, so this bounds the
# driver at ~1-2 s.  Row caps alone under-price DENSE small graphs
# (200k edges in one component with every node a source is ~3e9
# visits); the work bound is computed from a driver union-find over
# the already-collected (row-capped) edge list.
_LOCAL_BFS_WORK = 5_000_000


def _bfs_graph(pairs: DataFrame, d1: str, d2: str, sources, cap: int,
               tag: str):
    """Front half of the BFS centralities: the canonical undirected
    edge frame, materialized ONCE so the caller's upstream lineage
    executes exactly once on either side of the gate, then
    :func:`_driver_gate` plus the component-aware BFS work bound.

    Returns ``(e, seed, local)``: ``local`` is ``(nodes, adj)`` when
    the driver kernel applies, else None.  ``seed`` is the typed
    source frame (None = every node), built BEFORE anything
    materializes — a source list that does not fit the id type raises
    with nothing checkpointed or cached."""
    if sources is not None and not sources:
        raise ValueError("sources must be None (all nodes) or a "
                         "non-empty list")
    e = (pairs.select(F.least(d1, d2).alias("a"),
                      F.greatest(d1, d2).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         .distinct())
    seed = None if sources is None else (
        pairs.sparkSession.createDataFrame([(x,) for x in sources],
                                           e.select("a").schema)
        .toDF("src").distinct())
    stage_digest(f"{tag}.base", e)
    e = e.localCheckpoint(eager=True)
    rows = _driver_gate(cap, e)
    if rows is None:
        return e, seed, None
    adj: dict = {}
    for a, b in rows[0]:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    # sum |sources in C| * (2|E_C| + |V_C|) over components C
    root = _union_find(adj, rows[0])
    comp_nodes = Counter(root.values())
    comp_edges = Counter(root[a] for a, _ in rows[0])
    srcs_by_comp = comp_nodes if sources is None else Counter(
        root[s] for s in set(sources) if s in adj)
    work = sum(ns * (2 * comp_edges[c] + comp_nodes[c])
               for c, ns in srcs_by_comp.items())
    if work > _LOCAL_BFS_WORK:
        return e, seed, None
    return e, seed, (sorted(adj), adj)


def _bfs_exhausted(tag: str, max_iter: int) -> str:
    return (f"{tag} forward BFS did not exhaust in {max_iter} levels — "
            "the graph's eccentricity from the sources exceeds max_iter; "
            "raise it")


def _local_bfs_from(s, adj, max_iter, tag):
    """One BFS from ``s`` over the collected adjacency: returns
    ``(order, dist, sigma)`` with sigma = shortest-path counts; raises
    the family's max_iter error if the eccentricity exceeds it."""
    sigma = {s: 1}
    dist = {s: 0}
    order = []
    q = deque([s])
    while q:
        v = q.popleft()
        order.append(v)
        dv, sv = dist[v], sigma[v]
        for w in adj[v]:
            if w not in dist:
                dist[w] = dv + 1
                sigma[w] = 0
                q.append(w)
            if dist[w] == dv + 1:
                sigma[w] += sv
    if dist[order[-1]] >= max_iter:
        # the distributed loop needs iteration ecc+1 to OBSERVE the
        # empty frontier, so it raises whenever ecc >= max_iter —
        # match that exactly (>=, not >)
        raise RuntimeError(_bfs_exhausted(tag, max_iter))
    return order, dist, sigma


def _bfs_sigma(e: DataFrame, seed: "DataFrame | None", max_iter: int,
               tag: str):
    """Shared level-synchronous multi-source BFS carrying shortest-
    path counts over the canonical edge frame ``e``: returns
    ``(sym_edges, nodes, levels)`` where ``levels[d]`` holds one row
    (src, node, dist, sigma) per pair reached at exactly distance
    ``d`` (each level its own checkpointed frame).  The forward half of
    Brandes, also the distance table closeness aggregates — factored so
    both centralities ride one audited loop.  All sources advance in
    ONE wavefront (level count = the eccentricity from the sources);
    ``max_iter`` exhaustion RAISES (the shortest_paths rule).

    UNDIRECTED + UNWEIGHTED ONLY: the edge list is symmetrized here and
    every hop costs 1.  The two-level visited-set dedup below is
    CORRECT ONLY under that contract — do not reuse this loop for
    directed or weighted traversal (see the ``seen`` note).

    r15 shape (the job-overhead profile: 191 jobs / 13 s wall on the
    q184 forest, most of it scheduling + re-reading a growing union):

    - ``sym`` is PERSISTED after its one repartition("c"), not
      localCheckpoint-ed: a checkpoint's ``Scan ExistingRDD`` reports
      UnknownPartitioning, so every level's frontier join re-shuffled
      the FULL edge list wherever AQE declined to broadcast — at
      scale that is one whole-graph exchange per level for nothing
      (guide §2.4 "share one exchange").  The cached InMemoryRelation
      keeps hashpartitioning(c), so only the frontier moves.  Every
      raise after the persist releases it; on a return the CALLER
      must unpersist it (betweenness after its backward pass,
      closeness immediately).
    - visited-set maintenance is per-LEVEL: a proposal from the
      depth-d frontier has true distance in {d-1, d, d+1} (level-
      synchronous BFS invariant), so the dedup anti-join needs only
      the last TWO level frames — not the whole growing history.
    - each level's checkpoint is LAZY; the emptiness probe right
      after it materializes it — one job per level instead of two.
    """
    sym = (e.select(F.col("a").alias("c"), F.col("b").alias("n"))
           .unionByName(e.select(F.col("b").alias("c"),
                                 F.col("a").alias("n"))))
    stage_digest(f"{tag}.edges", sym)
    sym = sym.repartition("c").persist()

    def expand(frontier):
        nxt = (frontier.join(sym, frontier.node == sym.c)
               .groupBy("src", F.col("n").alias("node"))
               .agg(F.sum("sigma").cast("long").alias("sigma")))
        # level-synchronous invariant: a proposal from the depth-d
        # frontier has true distance in {d-1, d, d+1}, so only the
        # last TWO levels can collide with it.  This holds ONLY
        # because `sym` is the symmetrized (undirected) edge list
        # built above and every hop costs 1 — on directed or
        # weighted inputs a proposal could collide with depth
        # <= d-2 and nodes would re-enter with wrong dist/sigma
        # (the function-contract note in the docstring).
        seen = levels[-1].select("src", "node")
        if len(levels) > 1:
            seen = seen.unionByName(levels[-2].select("src", "node"))
        return (nxt.join(seen, ["src", "node"], "left_anti")
                .withColumn("dist", F.lit(len(levels)))
                .select("src", "node", "dist", "sigma"))

    def last_level(_, new):
        # probe: an empty level ends the BFS; a non-empty one is kept
        if _empty(new):
            return True
        levels.append(new)
        return False

    try:
        nodes = sym.select(F.col("c").alias("node")).distinct() \
            .localCheckpoint(eager=True)
        if seed is None:
            seed = nodes.select(F.col("node").alias("src"))
        else:
            seed = seed.join(nodes, F.col("src") == F.col("node"),
                             "left_semi")
        levels = [seed.select("src", F.col("src").alias("node"))
                  .withColumn("dist", F.lit(0))
                  .withColumn("sigma", F.lit(1).cast("long"))
                  .localCheckpoint(eager=True)]
        _rounds(levels[0], expand, last_level, max_iter=max_iter,
                tag=f"{tag}.fwd", exhausted=_bfs_exhausted(tag, max_iter))
    except BaseException:
        # a failed build must not keep the edge cache for the session
        sym.unpersist()
        raise
    return sym, nodes, levels


def betweenness(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                sources: "list | None" = None, max_iter: int = 50,
                normalize: bool = False,
                local_graph_rows: int = 200_000) -> DataFrame:
    """Betweenness centrality of the undirected graph given as a pair
    list (Brandes 2001), EXACT over the given source set — one row
    ``(node, betweenness)`` for every node.  ``sources=None`` runs
    every node as a source (the exact classic); an explicit list runs
    sampled-source Brandes, the standard estimator at scale — the
    list is caller-chosen, so the operator stays deterministic (the
    repo rule: no RNG inside operators; pick sources with
    ``hash_split`` or top-degree and pass them in).

    Two level-synchronous passes, both the PageRank shuffle shape
    (one equi-join + one combinable hash-agg per level, eager
    checkpoint; level count = the graph's eccentricity from the
    sources, ``max_iter`` RAISES on exhaustion — the shortest_paths
    rule, never silently-short centralities):

    - FORWARD multi-source BFS carrying sigma (shortest-path counts):
      frontier ⋈ edges, groupBy (src, node) summing sigma, anti-join
      against visited.  All sources advance in ONE wavefront — level
      count is the graph diameter, not diameter × |sources|.
    - BACKWARD dependency accumulation from the deepest level up:
      delta(u) += sigma_u/sigma_v * (1 + delta_v) over tree edges
      (u at depth L-1, v at L), one join + one sum per level.

    State is (src, node, dist, sigma) for every reached pair — the
    inherent O(|sources| * reachable) footprint of Brandes; it lives
    partitioned across the cluster (never collected), so the scale
    lever is the SOURCE SAMPLE size, which is exactly the estimator's
    contract.  The undirected convention halves the accumulated
    dependencies (each unordered pair is counted from both ends);
    ``normalize=True`` additionally divides by (n-1)(n-2)/2.

    Library-only (float dependency sums are not cross-engine-hashable;
    the exact-arithmetic driver witnesses for the iterative family are
    q166/q176/q183) — exact Python Brandes replay in
    ``test_betweenness_python_replay``; q184 pins the tree-forest
    case (where the arithmetic IS exact) against an analytic
    oracle.

    Graphs whose canonical edge list passes :func:`_driver_gate` at
    ``local_graph_rows`` (default 200k rows, fewer for wide string ids)
    AND whose total BFS work — sum over components of |sources in C|
    x (2|E_C| + |V_C|), bounded by a driver union-find over the
    already-collected list — fits ``_LOCAL_BFS_WORK`` run EXACT
    driver Brandes instead: identical update rule (the factored sigma_u *
    sum((1+delta_v)/sigma_v) form), identical max_iter raise,
    parity-pinned by pytest on both paths; the distributed
    level-synchronous loop costs ~2 jobs x eccentricity of scheduler
    overhead, which on a small graph is the entire runtime.
    Web-scale graphs take the distributed loop below, unchanged;
    ``local_graph_rows=0`` forces it."""
    e, seed, local = _bfs_graph(pairs, d1, d2, sources,
                                local_graph_rows, "betweenness")
    if local is not None:
        nodes_l, adj = local
        bc = {n: 0.0 for n in nodes_l}
        srcs = nodes_l if sources is None else \
            sorted(s for s in set(sources) if s in adj)
        for s in srcs:
            order, dist, sigma = _local_bfs_from(s, adj, max_iter,
                                                 "betweenness")
            delta: dict = {}
            for w in reversed(order):
                dw1 = dist[w] + 1
                acc = 0.0
                for v in adj[w]:
                    if dist.get(v) == dw1:
                        acc += (1.0 + delta.get(v, 0.0)) / sigma[v]
                if acc:
                    delta[w] = sigma[w] * acc
                if w != s:
                    bc[w] += delta.get(w, 0.0)
        denom = 1.0
        if normalize:
            n = len(nodes_l)
            denom = (n - 1) * (n - 2) / 2.0
            if denom <= 0:
                denom = 1.0
        out = _driver_frame(pairs.sparkSession, e.schema["a"],
                            [(n, bc[n] / 2.0 / denom) for n in nodes_l],
                            StructField("betweenness", DoubleType()))
        # same final projection as the distributed path (coalesce over
        # a literal), so the two paths' output schemas agree exactly
        return out.select("node",
                          F.coalesce("betweenness", F.lit(0.0))
                          .alias("betweenness"))
    sym, nodes, levels = _bfs_sigma(e, seed, max_iter, "betweenness")
    # backward accumulation, deepest level first.  Each round reads
    # exactly the two level frames it needs (the r15 shape — the
    # previous form filtered the full (src, node, dist, sigma) union
    # twice per level), and the per-edge dependency sum factors the
    # constant-per-group sigma_u OUT of the aggregate:
    #     sum(sigma_u / sigma_v * (1 + delta_v))
    #   = sigma_u * sum((1 + delta_v) / sigma_v)
    # which drops the (src, u) join against the upper level from the
    # aggregate's input — one join per level instead of two.  On tree
    # witnesses (q184) every term is an exact small integer over
    # sigma = 1, so the value is bit-identical; on general graphs the
    # reassociation moves the result by at most a few ulps, orders
    # below the 1e-9 replay-test tolerance (floats here are library-
    # only — the corpus pins the tree case, where both forms are
    # exact).
    try:
        cur = (levels[-1]
               .select("src", "node", "sigma")
               .withColumn("delta", F.lit(0.0)))
        acc = [cur.select("src", "node", "delta")]
        for lvl in range(len(levels) - 1, 0, -1):
            contrib = (cur.join(sym, cur.node == sym.c)
                       .groupBy("src", F.col("n").alias("node"))
                       .agg(F.sum((F.lit(1.0) + F.col("delta"))
                                  / F.col("sigma")).alias("__s")))
            cur = (levels[lvl - 1]
                   .select("src", "node", "sigma")
                   .join(contrib, ["src", "node"], "left")
                   .select("src", "node", "sigma",
                           F.coalesce(F.col("sigma") * F.col("__s"),
                                      F.lit(0.0)).alias("delta")))
            stage_digest("betweenness.bwd", cur)
            cur = cur.localCheckpoint(eager=True)
            # acc is consumed once at the end and every arm is already a
            # checkpointed frame — keep the union LAZY (a flat n-way union
            # of ExistingRDD scans), saving one eager job per level
            acc.append(cur.select("src", "node", "delta"))
        bc = (reduce(DataFrame.unionByName, acc)
              .where(F.col("node") != F.col("src"))
              .groupBy("node")
              .agg((F.sum("delta") / 2.0).alias("betweenness")))
    finally:
        # every acc arm is checkpoint-terminated, so nothing downstream
        # re-reads the edge cache; release it on ALL exits (ADVICE r15:
        # a throw in the backward pass leaked it for the session)
        sym.unpersist()
    out = (nodes.join(bc, "node", "left")
           .select("node", F.coalesce("betweenness", F.lit(0.0))
                   .alias("betweenness")))
    if normalize:
        n = nodes.count()  # driver scalar: node count (bounded)
        denom = (n - 1) * (n - 2) / 2.0
        if denom <= 0:
            denom = 1.0
        out = out.select("node", (F.col("betweenness") / F.lit(denom))
                         .alias("betweenness"))
    return out


def assortativity(pairs: DataFrame, d1: str = "d1",
                  d2: str = "d2") -> DataFrame:
    """Degree assortativity coefficient of the undirected graph given
    as a pair list (Newman 2002) — ONE row ``(n_nodes, n_edges,
    assortativity)``: the Pearson correlation of the degrees at the
    two ends of an edge, computed over both orientations (the
    standard estimator).  Positive = hubs link to hubs (social
    graphs), negative = hubs link to leaves (stars, infrastructure);
    the single scalar that tells you whether a near-dup graph is
    community-shaped or hub-spam-shaped before you pay for community
    detection.

    Plan: canonical edge list → degree hash-agg → two degree
    equi-joins onto the edges → ONE moment aggregate (sum xy, sum x,
    sum x²) over the symmetrized rows — no iteration, no window, no
    driver data.  Correlation from exact integer moments (degrees and
    their products are BIGINTs; the only floats are the final three
    divisions), the `series autocorrelation` moment discipline.
    Degenerate variance (e.g. a regular graph) returns NULL rather
    than NaN.  Library-only; exact moment replay in
    ``test_assortativity_moment_replay``."""
    e = (pairs.select(F.least(d1, d2).alias("a"),
                      F.greatest(d1, d2).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         .distinct())
    deg = (e.select(F.col("a").alias("n"))
           .unionByName(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    ed = (e.join(deg.withColumnRenamed("n", "a")
                 .withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("n", "b")
                .withColumnRenamed("d", "db"), "b"))
    sym = (ed.select(F.col("da").alias("x"), F.col("db").alias("y"))
           .unionByName(ed.select(F.col("db").alias("x"),
                                  F.col("da").alias("y"))))
    m = sym.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    counts = (e.agg(F.count("*").cast("long").alias("n_edges"))
              .crossJoin(F.broadcast(
                  deg.agg(F.count("*").cast("long")
                          .alias("n_nodes")))))
    # both-orientation symmetry: sum y == sum x, sum y^2 == sum x^2
    num = (F.col("sxy") / F.col("m")
           - (F.col("sx") / F.col("m")) ** 2)
    den = (F.col("sxx") / F.col("m")
           - (F.col("sx") / F.col("m")) ** 2)
    return (counts.crossJoin(F.broadcast(m))
            .select("n_nodes", "n_edges",
                    F.when(den != 0, num / den)
                    .alias("assortativity")))


def closeness(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
              sources: "list | None" = None, max_iter: int = 50,
              harmonic: bool = False,
              local_graph_rows: int = 200_000) -> DataFrame:
    """Closeness centrality of the undirected graph given as a pair
    list — one row per source: ``(node, n_reached, dist_sum,
    closeness)`` where ``n_reached`` counts OTHER reached nodes,
    ``dist_sum`` is the sum of their hop distances, and

    - classic (default): closeness = n_reached / dist_sum (0.0 for
      isolated-within-sample nodes) — the Wasserman–Faust-ready raw
      components are both returned so callers can apply the
      (r-1)/(n-1) disconnected-graph correction themselves;
    - ``harmonic=True``: closeness = sum of 1/dist over reached nodes
      (Marchiori–Latora) — the form that is directly comparable
      across disconnected graphs, ``dist_sum`` still the hop total.

    Rides the SAME audited forward-BFS loop as :func:`betweenness`
    (``_bfs_sigma``: one equi-join + one combinable hash-agg +
    anti-join per level, all sources in one wavefront, max_iter
    RAISES) — closeness is one groupBy over its (src, node, dist)
    table, so the marginal cost over a betweenness run is a single
    aggregate.  ``sources`` is the caller-chosen sample at scale (the
    repo's no-RNG rule).  Exact hop counts; library-only (pair with
    q184's betweenness driver row for the BFS machinery's
    cross-engine pin) — Python replay in
    ``test_closeness_python_replay``.

    Size-gated like :func:`betweenness`: graphs under
    ``local_graph_rows`` (+ the work cap) run the BFS sweep on the
    driver — identical per-source (n_reached, dist_sum, closeness)
    arithmetic, identical max_iter raise; ``local_graph_rows=0``
    forces the distributed loop."""
    e, seed, local = _bfs_graph(pairs, d1, d2, sources,
                                local_graph_rows, "closeness")
    if local is not None:
        nodes_l, adj = local
        srcs = nodes_l if sources is None else \
            sorted(s for s in set(sources) if s in adj)
        rows = []
        for s in srcs:
            order, dist, _sig = _local_bfs_from(s, adj, max_iter,
                                                "closeness")
            n_r = len(order) - 1
            dsum = sum(dist.values())
            if harmonic:
                cl = sum(1.0 / d for d in dist.values() if d > 0)
            else:
                cl = (n_r / dsum) if dsum > 0 else 0.0
            rows.append((s, n_r, dsum, cl))
        out = _driver_frame(pairs.sparkSession, e.schema["a"], rows,
                            StructField("n_reached", LongType()),
                            StructField("dist_sum", LongType()),
                            StructField("closeness", DoubleType()))
        # mirror the distributed path's final coalesce projection
        return out.select(
            "node",
            F.coalesce("n_reached", F.lit(0).cast("long"))
            .alias("n_reached"),
            F.coalesce("dist_sum", F.lit(0).cast("long"))
            .alias("dist_sum"),
            F.coalesce("closeness", F.lit(0.0)).alias("closeness"))
    sym, nodes, levels = _bfs_sigma(e, seed, max_iter, "closeness")
    sym.unpersist()   # closeness never re-joins the edge list
    vis = reduce(DataFrame.unionByName, levels)
    reached = vis.where(F.col("node") != F.col("src"))
    score = (F.sum(F.lit(1.0) / F.col("dist")) if harmonic
             else F.when(F.sum("dist") > 0,
                         F.count("*") / F.sum("dist"))
             .otherwise(F.lit(0.0)))
    per = (reached.groupBy(F.col("src").alias("node"))
           .agg(F.count("*").cast("long").alias("n_reached"),
                F.sum("dist").cast("long").alias("dist_sum"),
                score.alias("closeness")))
    if sources is None:
        base = nodes
    else:
        base = vis.where(F.col("dist") == 0) \
            .select(F.col("src").alias("node"))
    return (base.join(per, "node", "left")
            .select("node",
                    F.coalesce("n_reached", F.lit(0).cast("long"))
                    .alias("n_reached"),
                    F.coalesce("dist_sum", F.lit(0).cast("long"))
                    .alias("dist_sum"),
                    F.coalesce("closeness", F.lit(0.0))
                    .alias("closeness")))
